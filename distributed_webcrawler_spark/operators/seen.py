"""The URL-seen set behind one interface.

The seen set is a PREFILTER in front of the exact seen anti-join
(SURVEY.md §7b): a miss means "definitely new" and skips the join; a hit
may be a false positive and MUST still go through it. A false negative is
the one error it may never make. Two filters (operators/bloom.py,
operators/cuckoo.py) in two deployments give four configurations:

- ``DriverSeenSet``: one filter held by the driver (right below ~10^8
  keys). New hashes come from a driver-side pyarrow read of the snapshot
  the frontier append just wrote, with no Spark job.
- ``ShardedSeenStore``: the 10^10-tier lifecycle, one filter per
  host_bucket shard. Shards are added to and deleted from EXECUTOR-side
  (applyInPandas group tasks) and persisted as versioned blob files; the
  driver holds only the {shard: version} manifest.

Both prefilter with one native probe (``_probe``): a frame of the
filter's 64-bit words (``__seen_words array<bigint>``) is joined to the
candidate rows and the filter class's ``contains`` tests the bits with
``element_at`` and shifts — no Python worker sees a candidate row. The
driver set cross-joins a one-row broadcast frame; the sharded store reads
each blob of its manifest executor-side into one row per shard and
left-joins it on the shard, broadcast when the words fit under
``spark.sql.autoBroadcastJoinThreshold`` and shuffled otherwise. The numpy
``might_contain_many`` is the reference that tests and benchmarks probe
against.

Both implement the same interface:

    with_maybe_seen(df, name) -> DataFrame df plus might-contain column ``name``
    add_frame(df)                          fold every row's url_hash in
    add_snapshot(table, snap)              fold one committed snapshot in
    delete(victim_rows, n_rows, allow_stale)
    checkpoint(warehouse, rnd) -> dict     durable state for a checkpoint
    prune(warehouse, checkpoints)          drop files none of them names

``create`` and ``from_checkpoint`` (which restores a seen set) are the
only code that reads ``cfg.seen_filter``, ``bloom_shards``, ``bloom_fpp``
and ``bloom_expected_insertions``. The checkpoint keys are the ones
older warehouses carry: ``bloom``/``cuckoo`` name a driver filter's file,
``bloom_shard_versions``/``cuckoo_shard_versions`` hold a shard manifest.
It restores only the set ``create`` would build: a checkpoint of another
kind or shard count, or a blob whose format tag and shape header differ
(one written with the former splitmix positions, or under another
``bloom_expected_insertions`` or ``bloom_fpp``), restores as None, so
``CrawlEngine.resume`` rebuilds the seen set over the frontier instead of
probing it with the wrong positions.
"""

from __future__ import annotations

import functools
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.batches import map_rows
from ..sources.store import write_atomic
from .bloom import BloomFilter
from .cuckoo import CuckooFilter

_FILTERS = {"bloom": BloomFilter, "cuckoo": CuckooFilter}
# smallest per-filter capacity: a tiny cuckoo table fills after a few kicks
_MIN_CAPACITY = {"bloom": 1, "cuckoo": 64}
# shard blob name prefix, as existing warehouses name the files
_SHARD_PREFIX = {"bloom": "shard", "cuckoo": "cuckoo"}


def validate(cfg) -> None:
    if cfg.seen_filter not in _FILTERS:
        raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', got {cfg.seen_filter!r}")


def create(cfg, warehouse: str):
    """An empty seen set of the kind and size ``cfg`` asks for."""
    validate(cfg)
    if cfg.bloom_shards > 1:
        store = _sharded(cfg, warehouse, cfg.seen_filter)
        # a fresh store over a directory that already holds blobs (a new
        # engine's start_session on an existing warehouse) starts above
        # them: no blob an older checkpoint names is rewritten
        store.version_floor = store.highest_version_on_disk()
        return store
    return DriverSeenSet(_driver_filter(cfg), cfg.evict_driver_max_rows)


def from_checkpoint(ckpt: dict, cfg, warehouse: str):
    """The seen set a checkpoint recorded, or None when it recorded none or
    not the one ``create(cfg)`` builds: another kind or shard count, or a
    blob whose format tag and shape header differ from that set's."""
    validate(cfg)
    kind = cfg.seen_filter
    if cfg.bloom_shards > 1:
        versions = ckpt.get(f"{kind}_shard_versions")
        if versions is None or ckpt.get(f"{kind}_n_shards", cfg.bloom_shards) != cfg.bloom_shards:
            return None
        store = _sharded(cfg, warehouse, kind)
        store.versions = {int(k): v for k, v in versions.items()}
        head = store.empty_filter().header()
        return store if all(_tagged(_blob_path(store.directory, kind, s, v), head)
                            for s, v in store.versions.items()) else None
    if not ckpt.get(kind):
        return None
    path = os.path.join(warehouse, ckpt[kind])
    if not _tagged(path, _driver_filter(cfg).header()):
        return None
    with open(path, "rb") as f:
        return DriverSeenSet(_FILTERS[kind].from_bytes(f.read()), cfg.evict_driver_max_rows)


def _tagged(path: str, head: bytes) -> bool:
    with open(path, "rb") as f:
        return f.read(len(head)) == head


def _sharded(cfg, warehouse: str, kind: str) -> "ShardedSeenStore":
    return ShardedSeenStore.for_capacity(
        kind, os.path.join(warehouse, f"{kind}_shards"), cfg.bloom_shards,
        cfg.bloom_expected_insertions, cfg.bloom_fpp)


def _capacity(kind: str, expected_insertions: int) -> int:
    return max(expected_insertions, _MIN_CAPACITY[kind])


def _driver_filter(cfg):
    return _empty_filter(cfg.seen_filter, _capacity(cfg.seen_filter, cfg.bloom_expected_insertions),
                         cfg.bloom_fpp)


def _empty_filter(kind: str, capacity: int, fpp: float):
    if kind == "bloom":
        return BloomFilter.for_capacity(capacity, fpp)
    return CuckooFilter.for_capacity(capacity)


def add_all(filt, hashes: np.ndarray) -> None:
    """Insert every hash or raise — the one add path of every seen set. A
    key an over-full cuckoo could not place would answer "absent", skip
    the exact anti-join and enter the frontier a second time."""
    placed = filt.add_many(hashes)
    if placed != len(hashes):
        raise RuntimeError(
            f"{filt.kind} seen filter over-full: placed {placed}/{len(hashes)} keys — "
            "raise bloom_expected_insertions or bloom_shards; a dropped key "
            "would be a false negative")


def _refuse_stale(allow_stale: bool) -> None:
    if not allow_stale:
        raise RuntimeError(
            "evict_for_recrawl with seen_filter='bloom': a bloom cannot "
            "delete fingerprints, so TTL recrawl would only degrade its "
            "fpp. Use seen_filter='cuckoo', or pass "
            "allow_stale_filter=True to accept the stale filter.")


def _native_hit(filt) -> Column:
    """``filt``'s might-contain of url_hash against ``__seen_words``; a row
    with no words (a shard with no filter yet) reads "definitely new"."""
    return F.coalesce(filt.contains(F.col("url_hash"), F.col("__seen_words")), F.lit(False))


def _probe(df: DataFrame, words: DataFrame, hit: Column, name: str,
           on: Column | None = None) -> DataFrame:
    """The one prefilter of every seen set: ``df`` plus the column ``name``,
    the native ``hit`` over ``words`` cross-joined (``on`` None) or
    left-joined on ``on`` to every row."""
    joined = df.crossJoin(words) if on is None else df.join(words, on, "left")
    return joined.select(*df.columns, hit.alias(name))


def _hash_array(df: DataFrame) -> np.ndarray:
    """The 8-byte url_hash column on the driver (Arrow), never whole rows."""
    return df.select("url_hash").toPandas()["url_hash"].dropna().to_numpy(dtype=np.int64)


class DriverSeenSet:
    """One bloom or cuckoo filter held by the driver."""

    sharded = False

    def __init__(self, filt, evict_driver_max_rows: int):
        self.filter = filt
        self.kind = filt.kind
        self.evict_driver_max_rows = evict_driver_max_rows

    def _words(self) -> DataFrame:
        """The filter's words as a one-row array<bigint> frame — a copy,
        so later adds do not reach a plan built over it."""
        return SparkSession.active().createDataFrame(
            pd.DataFrame({"__seen_words": [self.filter.words()]}), "__seen_words array<bigint>")

    @functools.cached_property
    def _hit(self) -> Column:
        # built once: the filter's shape never changes, and each Column
        # call is a py4j round-trip on the expand branch's critical path
        return _native_hit(self.filter)

    def with_maybe_seen(self, df: DataFrame, name: str) -> DataFrame:
        return _probe(df, F.broadcast(self._words()), self._hit, name)

    def add_frame(self, df: DataFrame) -> None:
        add_all(self.filter, _hash_array(df))

    def add_snapshot(self, table, snap: int) -> None:
        # driver-side pyarrow read of the parquet the append just wrote;
        # drop nulls BEFORE to_numpy: a null in an int64 column makes pyarrow
        # emit float64 + NaN, which a later astype(uint64) turns into garbage
        col = table.read_local(["url_hash"], snap)["url_hash"]
        add_all(self.filter, col.combine_chunks().drop_null().to_numpy())

    def delete(self, victim_rows: DataFrame, n_rows: int, allow_stale: bool = False) -> None:
        """Forget one fingerprint per victim frontier row. The filter is a
        driver object, so the victims' hashes are collected to the driver —
        refused above evict_driver_max_rows, before anything is collected."""
        if not self.filter.deletable:
            _refuse_stale(allow_stale)
            return
        if n_rows > self.evict_driver_max_rows:
            raise RuntimeError(
                f"evict_for_recrawl: {n_rows} victim rows exceed "
                f"evict_driver_max_rows={self.evict_driver_max_rows} for "
                "single-filter mode, which materializes victim hashes "
                "driver-side. Deploy the sharded seen store "
                "(bloom_shards > 1) whose deletes run executor-side, "
                "or raise cfg.evict_driver_max_rows if the driver has "
                "the memory.")
        if n_rows:
            self.filter.delete_many(_hash_array(victim_rows))

    def checkpoint(self, warehouse: str, rnd: int) -> dict:
        """Write the filter under a fresh name (version = 1 + the highest on
        disk): a committed checkpoint's file is never rewritten in place."""
        pat = re.compile(rf"{self.kind}-r\d+-v(\d+)\.bin")
        last = max((int(m[1]) for f in os.listdir(warehouse) if (m := pat.fullmatch(f))),
                   default=0)
        name = f"{self.kind}-r{rnd:05d}-v{last + 1:06d}.bin"
        write_atomic(os.path.join(warehouse, name), self.filter.to_bytes())
        return {self.kind: name}

    def prune(self, warehouse: str, checkpoints: list[dict]) -> None:
        keep = {c.get(self.kind) for c in checkpoints}
        for f in os.listdir(warehouse):
            if f.startswith(f"{self.kind}-") and f.endswith(".bin") and f not in keep:
                os.unlink(os.path.join(warehouse, f))


def _blob_path(directory: str, kind: str, shard: int, version: int) -> str:
    return os.path.join(directory, f"{_SHARD_PREFIX[kind]}-{shard:05d}-v{version:08d}.bin")


def _blob_pattern(kind: str) -> re.Pattern:
    return re.compile(rf"{_SHARD_PREFIX[kind]}-(\d{{5}})-v(\d{{8}})\.bin")


def _read_blob(directory: str, kind: str, shard: int, version: int):
    with open(_blob_path(directory, kind, shard, version), "rb") as f:
        return _FILTERS[kind].from_bytes(f.read())


class ShardedSeenStore:
    """One bloom or cuckoo filter per host_bucket shard, kept as versioned
    blob files under ``directory`` (the warehouse locally; an object store
    on a real cluster). At 10^10 keys / fpp 0.01 a global bloom is ~12 GB,
    while a 256-shard store is ~47 MB per shard; the driver only tracks
    the {shard: version} manifest, O(n_shards).

    Write protocol: each applyInPandas group task folds its rows into the
    shard's previous version (or an empty filter) and os.replace()s a temp
    file into ``<prefix>-SSSSS-vVVVVVVVV.bin``. A committed version is never
    rewritten, so a reader holding an older manifest never sees a torn or
    half-updated filter; ``prune`` drops versions no kept checkpoint names.
    """

    sharded = True

    def __init__(self, kind: str, directory: str, n_shards: int, capacity: int, fpp: float):
        self.kind = kind
        self.directory = directory
        self.n_shards = n_shards
        self.capacity = capacity  # expected keys per shard
        self.fpp = fpp
        # a shard absent here has no filter yet: every key reads "definitely new"
        self.versions: dict[int, int] = {}
        # versions at or below this may exist on disk from an earlier store
        self.version_floor = 0
        os.makedirs(directory, exist_ok=True)

    @classmethod
    def for_capacity(cls, kind: str, directory: str, n_shards: int,
                     expected_insertions_total: int, fpp: float = 0.01) -> "ShardedSeenStore":
        return cls(kind, directory, n_shards,
                   _capacity(kind, expected_insertions_total // max(n_shards, 1)), fpp)

    def shard_col(self) -> Column:
        return F.pmod(F.col("host_bucket"), F.lit(self.n_shards)).cast("int")

    def next_version(self) -> int:
        """Strictly monotone blob version. Round numbers are not safe:
        shards also change on eviction, reinject and repeat start_session
        between rounds. A resumed re-run of a torn round recomputes the
        same max(checkpointed versions)+1 over the same data, so it
        rewrites only files no checkpoint names."""
        return max(self.versions.values(), default=self.version_floor) + 1

    def empty_filter(self):
        """A filter of the one shape every shard of this store has."""
        return _empty_filter(self.kind, self.capacity, self.fpp)

    @functools.cached_property
    def _hit(self) -> Column:
        # every shard has the store's one shape: one expression, built once
        return _native_hit(self.empty_filter())

    @functools.cached_property
    def _filter_bytes(self) -> int:
        return self.empty_filter().words().nbytes

    def _words(self) -> DataFrame:
        """One ``(__shard, __seen_words)`` row per shard in the manifest,
        each read from its blob executor-side: the driver never holds a
        filter."""
        kind, directory = self.kind, self.directory
        spark = SparkSession.active()
        manifest = spark.createDataFrame(sorted(self.versions.items()),
                                         "__shard int, __version int")
        return map_rows(manifest,
                        lambda s, v: [(s, _read_blob(directory, kind, s, v).words())],
                        "__shard int, __seen_words array<bigint>")

    # -- the seen-set interface ---------------------------------------------
    def with_maybe_seen(self, df: DataFrame, name: str) -> DataFrame:
        if not self.versions:
            return df.select(*df.columns, F.lit(False).alias(name))
        # the planner cannot size the words' Python scan, and would shuffle
        # every candidate to a sort-merge join; the driver knows the size
        spark = SparkSession.active()
        limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        words = self._words()
        words = (F.broadcast(words) if len(self.versions) * self._filter_bytes <= limit
                 else words.hint("shuffle_hash"))
        return _probe(df, words, self._hit, name, self.shard_col() == F.col("__shard"))

    def add_frame(self, df: DataFrame) -> None:
        self.update(df.select("url_hash", self.shard_col().alias("__shard")),
                    "url_hash", "__shard", self.next_version())

    def add_snapshot(self, table, snap: int) -> None:
        self.add_frame(table.read_snapshot(SparkSession.active(), snap))

    def delete(self, victim_rows: DataFrame, n_rows: int, allow_stale: bool = False) -> None:
        """Forget one fingerprint per victim frontier row, executor-side:
        the keys never reach the driver."""
        if not _FILTERS[self.kind].deletable:
            _refuse_stale(allow_stale)
            return
        if n_rows:
            self._apply(victim_rows.select("url_hash", self.shard_col().alias("__shard")),
                        "url_hash", "__shard", self.next_version(), add=False)

    def checkpoint(self, warehouse: str, rnd: int) -> dict:
        # the blobs are already durable; the checkpoint holds the manifest
        # and the shard count its keys were routed by
        return {f"{self.kind}_shard_versions": {str(k): v for k, v in self.versions.items()},
                f"{self.kind}_n_shards": self.n_shards}

    def prune(self, warehouse: str, checkpoints: list[dict]) -> None:
        self.prune_versions(*(c.get(f"{self.kind}_shard_versions") or {}
                              for c in checkpoints))

    # -- shard mechanics ----------------------------------------------------
    def update(self, df: DataFrame, hash_col: str, shard_col: str, version: int) -> list[int]:
        """Fold df's hashes into their shards at ``version``; returns the
        shard ids written. Shards with no rows keep their old version."""
        return self._apply(df, hash_col, shard_col, version, add=True)

    def _apply(self, df: DataFrame, hash_col: str, shard_col: str, version: int,
               add: bool) -> list[int]:
        """Executor-side shard mutation: group by shard; each group task
        folds its hashes into (previous version ± rows) and commits the
        versioned blob. The fold always starts from the PREVIOUS version's
        file, so re-running the same (data, version) writes identical bytes."""
        kind, directory, capacity, fpp = self.kind, self.directory, self.capacity, self.fpp
        prev = dict(self.versions)

        def per_shard(key, pdf):
            shard = int(key[0])
            pv = prev.get(shard)
            filt = (_empty_filter(kind, capacity, fpp) if pv is None
                    else _read_blob(directory, kind, shard, pv))
            vals = pdf[hash_col].dropna().to_numpy(dtype=np.int64)
            if add:
                add_all(filt, vals)
            else:
                filt.delete_many(vals)
            write_atomic(_blob_path(directory, kind, shard, version), filt.to_bytes())
            return pd.DataFrame({"shard": [shard], "n": [len(vals)]})

        out = (df.select(F.col(shard_col).alias("__shard"), F.col(hash_col))
                 .groupBy("__shard")
                 .applyInPandas(per_shard, "shard int, n long")
                 .collect())
        written = [int(r.shard) for r in out]
        for s in written:
            self.versions[s] = version
        return written

    def occupancy(self) -> int:
        """Stored cuckoo fingerprints across the current shard versions
        (driver-side blob reads; monitoring and tests only)."""
        return sum(_read_blob(self.directory, self.kind, s, v).occupancy
                   for s, v in self.versions.items())

    def prune_versions(self, *manifests: dict) -> None:
        """Delete every blob file none of the {shard: version} manifests names."""
        keep = {(int(s), int(v)) for m in manifests for s, v in m.items()}
        pat = _blob_pattern(self.kind)
        for f in os.listdir(self.directory):
            m = pat.fullmatch(f)
            if m and (int(m[1]), int(m[2])) not in keep:
                os.unlink(os.path.join(self.directory, f))

    def highest_version_on_disk(self) -> int:
        pat = _blob_pattern(self.kind)
        return max((int(m[2]) for f in os.listdir(self.directory) if (m := pat.fullmatch(f))),
                   default=0)
