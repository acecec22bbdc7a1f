"""Bloom filter: zero false negatives (correctness-critical, SURVEY §7b),
fpp within bound, distributed per-partition build, serde round-trip."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from distributed_webcrawler_spark.operators.bloom import BloomFilter
from distributed_webcrawler_spark.operators.seen import DriverSeenSet, ShardedSeenStore


def test_no_false_negatives_and_fpp():
    bf = BloomFilter.for_capacity(50_000, 0.01)
    rng = np.random.default_rng(7)
    inserted = rng.integers(-(2**62), 2**62, 50_000, dtype=np.int64)
    bf.add_many(inserted)
    assert bf.might_contain_many(inserted).all()          # NEVER a false negative
    probe = rng.integers(-(2**62), 2**62, 100_000, dtype=np.int64)
    fresh = probe[~np.isin(probe, inserted)]
    assert bf.might_contain_many(fresh).mean() < 0.02      # fpp ~0.01


def test_sequential_ids_still_uniform():
    bf = BloomFilter.for_capacity(10_000, 0.01)
    bf.add_many(np.arange(10_000, dtype=np.int64))
    probe = np.arange(10**7, 10**7 + 50_000, dtype=np.int64)
    assert bf.might_contain_many(probe).mean() < 0.02


def test_serde_roundtrip():
    bf = BloomFilter.for_capacity(1000, 0.01)
    bf.add_many(np.arange(1000, dtype=np.int64))
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.n_bits == bf.n_bits and bf2.n_hashes == bf.n_hashes
    assert np.array_equal(bf2.bits, bf.bits)


def test_distributed_build_and_prefilter(spark):
    """The engine's build path: add_frame ORs per-partition filters into the
    driver filter. Its bits equal a driver-side add of the same hashes, and
    a second frame folds in on top of the first: every hash of both is
    found by the native probe."""
    df = spark.range(0, 20_000, 1, 8).select(F.xxhash64("id").alias("url_hash"))
    seen = DriverSeenSet(BloomFilter.for_capacity(40_000, 0.01), 0)
    seen.add_frame(df)
    local = BloomFilter.for_capacity(40_000, 0.01)
    local.add_many(df.toPandas()["url_hash"].to_numpy())
    assert np.array_equal(seen.filter.bits, local.bits)
    tagged = seen.with_maybe_seen(df, "maybe")
    assert tagged.where(~F.col("maybe")).count() == 0
    df2 = spark.range(20_000, 40_000, 1, 40).select(F.xxhash64("id").alias("url_hash"))
    seen.add_frame(df2)   # 40 partitions: coalesced to the 32-blob cap
    both = seen.with_maybe_seen(df.unionByName(df2), "maybe")
    assert both.where(~F.col("maybe")).count() == 0


def test_sharded_bloom_build_update_prefilter(spark, tmp_path):
    """10^10-tier lifecycle: per-host_bucket shards built/updated
    EXECUTOR-side (applyInPandas group tasks write versioned blob files);
    the driver holds only the {shard: version} manifest. Zero false
    negatives across shards; version bump isolates updates; pruning
    removes stale files."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    d = str(tmp_path / "shards")
    n_shards = 4
    df = spark.range(5000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h"),
        F.pmod(F.col("id"), F.lit(n_shards)).cast("int").alias("shard"))
    sb = ShardedSeenStore.for_capacity("bloom", d, n_shards, 100_000, 0.01)
    written = sb.update(df, "h", "shard", version=1)
    assert sorted(written) == list(range(n_shards))
    assert sb.versions == {s: 1 for s in range(n_shards)}
    # driver holds no filter objects — only the manifest dict
    assert not any(isinstance(v, (bytes, bytearray)) for v in vars(sb).values())

    # zero false negatives: every inserted (hash, shard) must hit
    flagged = df.repartition(n_shards, "shard").select(
        sb.prefilter_udf()(F.col("h"), F.col("shard")).alias("m"))
    assert flagged.where(~F.col("m")).count() == 0

    # incremental update at a later version only bumps touched shards
    df2 = spark.range(5000, 5100).select(
        F.xxhash64(F.col("id").cast("string")).alias("h"),
        F.lit(2).cast("int").alias("shard"))
    written2 = sb.update(df2, "h", "shard", version=2)
    assert written2 == [2]
    assert sb.versions[2] == 2 and sb.versions[0] == 1
    flagged2 = df2.select(sb.prefilter_udf()(F.col("h"), F.col("shard")).alias("m"))
    assert flagged2.where(~F.col("m")).count() == 0
    # old data still present after the update (OR semantics, no false negatives)
    flagged3 = df.select(sb.prefilter_udf()(F.col("h"), F.col("shard")).alias("m"))
    assert flagged3.where(~F.col("m")).count() == 0

    # an unseen shard (no filter yet) reads as definitely-new
    df_new_shard = spark.range(10).select(
        F.xxhash64(F.col("id").cast("string")).alias("h"),
        F.lit(99).cast("int").alias("shard"))
    assert df_new_shard.select(sb.prefilter_udf()(F.col("h"), F.col("shard")).alias("m")) \
        .where(F.col("m")).count() == 0

    # prune versions older than the current manifest
    sb.prune_versions(dict(sb.versions))
    files = sorted(os.listdir(d))
    assert "shard-00002-v00000001.bin" not in files
    assert "shard-00002-v00000002.bin" in files
    assert "shard-00000-v00000001.bin" in files
