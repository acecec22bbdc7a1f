"""The seen-set interface (operators/seen.py): the shared add path never
drops a key, a re-checkpointed round gets fresh files and old ones are
pruned, and checkpoints carrying each older key still restore. Seed-only
sessions keep these tests free of crawl rounds."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.functions.hashes import xxhash64_long
from distributed_webcrawler_spark.operators.cuckoo import CuckooFilter
from distributed_webcrawler_spark.operators import seen as seen_sets
from distributed_webcrawler_spark.operators.seen import add_all
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources.store import SnapshotStore

SEEN_SETS = {
    "bloom": {},
    "bloom-sharded": {"bloom_shards": 4},
    "cuckoo": {"seen_filter": "cuckoo"},
    "cuckoo-sharded": {"seen_filter": "cuckoo", "bloom_shards": 4},
}


def _engine(spark, fixture_dir, wh, **kw):
    cfg = CrawlConfig(**{"max_rounds": 0, "respect_robots": False, "use_bloom": True,
                         "bloom_expected_insertions": 10_000, **kw})
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    return CrawlEngine(spark, SnapshotStore(str(wh)), cfg, wg, pay, None)


def _seeds(spark, fixture_dir, n):
    urls = sorted(r.url for r in spark.read.parquet(f"{fixture_dir}/web_graph")
                  .select("url").collect())[:n]
    return spark.createDataFrame([(u, i) for i, u in enumerate(urls)], "url string, seq int")


def test_add_all_refuses_an_over_full_cuckoo():
    cf = CuckooFilter.for_capacity(16)
    hashes = np.random.default_rng(3).integers(-(2**62), 2**62, 200, dtype=np.int64)
    with pytest.raises(RuntimeError, match="over-full"):
        add_all(cf, hashes)


def test_over_full_single_cuckoo_raises_instead_of_dropping_keys(spark, fixture_dir, tmp_path):
    """A dropped fingerprint answers "absent": that URL would skip the
    exact anti-join and enter the frontier a second time."""
    eng = _engine(spark, fixture_dir, tmp_path / "wh", seen_filter="cuckoo",
                  bloom_expected_insertions=16)
    with pytest.raises(RuntimeError, match="over-full"):
        eng.start_session(_seeds(spark, fixture_dir, 200))


def _seen_files(wh: str) -> set[str]:
    out = {f for f in os.listdir(wh) if f.endswith(".bin")}
    for d in ("bloom_shards", "cuckoo_shards"):
        if os.path.isdir(os.path.join(wh, d)):
            out |= {f"{d}/{f}" for f in os.listdir(os.path.join(wh, d))}
    return out


def _named(ckpt: dict) -> set[str]:
    prefix = {"bloom": "shard", "cuckoo": "cuckoo"}
    out = {ckpt[k] for k in ("bloom", "cuckoo") if ckpt.get(k)}
    for kind in ("bloom", "cuckoo"):
        for s, v in (ckpt.get(f"{kind}_shard_versions") or {}).items():
            out.add(f"{kind}_shards/{prefix[kind]}-{int(s):05d}-v{v:08d}.bin")
    return out


@pytest.mark.parametrize("seen_set", ["bloom", "cuckoo-sharded"])
def test_recheckpointed_round_gets_fresh_files_and_prunes(spark, fixture_dir, tmp_path,
                                                          seen_set):
    """start_session, then reinject (after its eviction and after the
    re-add) checkpoint round 0 three times. No checkpoint may overwrite a
    file an earlier one names, and after each commit only the files the
    latest two checkpoints name stay on disk."""
    wh = str(tmp_path / "wh")
    eng = _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set])
    eng.start_session(_seeds(spark, fixture_dir, 40))
    urls = spark.createDataFrame(eng.store.table("frontier").read(spark)
                                 .select("session_id", "url").limit(5).collect())
    eng.reinject_for_recrawl(urls, allow_stale_filter=True)
    ckpts = eng.store.read_checkpoints()
    assert [c["round"] for c in ckpts] == [0, 0, 0]
    names = [_named(c) for c in ckpts]
    if "sharded" not in seen_set:
        assert len(set().union(*names)) == 3  # one fresh file per checkpoint
    assert names[0] != names[1] != names[2]
    assert _seen_files(wh) == names[1] | names[2]


@pytest.mark.parametrize("legacy_key,seen_set", [
    ("bloom", "bloom"), ("cuckoo", "cuckoo"),
    ("bloom_shard_versions", "bloom-sharded"), ("cuckoo_shard_versions", "cuckoo-sharded")])
def test_restore_from_legacy_checkpoint(spark, fixture_dir, tmp_path, legacy_key, seen_set):
    """A warehouse whose latest checkpoint was written before the seen-set
    interface existed (a driver filter in ``{kind}-r{round:05d}.bin``, next
    to ``"bloom": None``) resumes with the same filter: every frontier key
    is still seen."""
    wh = str(tmp_path / "wh")
    _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set]).start_session(
        _seeds(spark, fixture_dir, 40))
    store = SnapshotStore(wh)
    ckpts = store.read_checkpoints()
    last = ckpts[-1]
    legacy = {"round": last["round"], "tables": last["tables"], "bloom": None}
    if legacy_key in ("bloom", "cuckoo"):
        old_name = f"{legacy_key}-r{last['round']:05d}.bin"
        os.replace(os.path.join(wh, last[legacy_key]), os.path.join(wh, old_name))
        legacy[legacy_key] = old_name
    else:
        legacy[legacy_key] = last[legacy_key]
    with open(os.path.join(wh, "checkpoints.json"), "w") as f:
        json.dump(ckpts[:-1] + [legacy], f)

    eng = _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set])
    assert eng.resume() == []
    view = {"bloom": eng.bloom, "cuckoo": eng.cuckoo,
            "bloom_shard_versions": eng.bloom_shards,
            "cuckoo_shard_versions": eng.cuckoo_shards}[legacy_key]
    assert view is not None
    fr = store.table("frontier").read(spark)
    assert fr.count() == 40
    assert eng.seen.with_maybe_seen(fr, "m").where(~F.col("m")).count() == 0


@pytest.mark.parametrize("seen_set", sorted(SEEN_SETS))
def test_fresh_engine_on_existing_warehouse_keeps_checkpointed_files(spark, fixture_dir,
                                                                     tmp_path, seen_set):
    """Two fresh engines (no resume) seed sessions on one warehouse. The
    second one's seen set must start above the files already on disk: no
    file an existing checkpoint names may change bytes."""
    wh = str(tmp_path / "wh")
    seeds = _seeds(spark, fixture_dir, 80)
    _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set]).start_session(
        seeds.where("seq < 40"), session_id="s1")
    named = set().union(*(_named(c) for c in SnapshotStore(wh).read_checkpoints()))
    before = {f: open(os.path.join(wh, f), "rb").read() for f in named}
    assert before

    _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set]).start_session(
        seeds.where("seq >= 40"), session_id="s2")
    after = {f: open(os.path.join(wh, f), "rb").read() for f in named}
    assert after == before
    assert _named(SnapshotStore(wh).read_checkpoints()[-1]).isdisjoint(named)


@pytest.mark.parametrize("seen_set", sorted(SEEN_SETS))
def test_native_probe_matches_numpy(spark, tmp_path, seen_set):
    """Every seen set's native probe (xxhash64, element_at and shifts in
    the JVM, over the words frame with_maybe_seen joins to the rows)
    answers exactly as the numpy might_contain_many on 10^5 random hashes,
    extremes included, with no false negative; and the numpy xxhash64 twin
    equals Spark's xxhash64 on every one of them. No key is added to shard
    3, so a sharded store has no filter there: its rows read "definitely
    new"."""
    import pandas as pd

    rng = np.random.default_rng(17)
    inserted = rng.integers(-(2**63), 2**63 - 1, 20_000, dtype=np.int64, endpoint=True)
    probe = np.concatenate([
        inserted, rng.integers(-(2**63), 2**63 - 1, 80_000, dtype=np.int64, endpoint=True),
        np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64)])
    buckets = rng.integers(0, 1000, len(probe)).astype(np.int32)
    df = spark.createDataFrame(pd.DataFrame(
        {"i": np.arange(len(probe)), "url_hash": probe, "host_bucket": buckets}))
    cfg = CrawlConfig(bloom_expected_insertions=80_000, **SEEN_SETS[seen_set])
    seen = seen_sets.create(cfg, str(tmp_path))
    added = buckets[: len(inserted)] % 4 != 3
    seen.add_frame(df.where((F.col("i") < len(inserted)) & (F.col("host_bucket") % 4 != 3)))
    if seen.sharded:
        assert sorted(seen.versions) == [0, 1, 2]
        want = np.zeros(len(probe), dtype=bool)
        for s, v in seen.versions.items():
            m = buckets % 4 == s
            want[m] = seen_sets._read_blob(seen.directory, seen.kind, s, v) \
                .might_contain_many(probe[m])
    else:
        want = seen.filter.might_contain_many(probe)
    assert want[: len(inserted)][added].all()
    got = (seen.with_maybe_seen(df, "m").select("i", "m", F.xxhash64("url_hash").alias("g"))
           .toPandas().sort_values("i"))
    assert np.array_equal(got["m"].to_numpy(), want)
    assert np.array_equal(got["g"].to_numpy(), xxhash64_long(probe).view(np.int64))


@pytest.mark.parametrize("seen_set,changed", [
    ("bloom-sharded", {"bloom_expected_insertions": 40_000}),
    ("cuckoo-sharded", {"bloom_expected_insertions": 40_000}),
    ("cuckoo-sharded", {"bloom_shards": 3})])
def test_resume_under_another_shape_rebuilds_the_seen_set(spark, fixture_dir, tmp_path,
                                                          seen_set, changed):
    """A sharded warehouse resumed under another filter size or shard
    count: the store probes every shard with its one shape and routes keys
    by its own shard count, so the checkpointed shards are not restored
    but rebuilt over the frontier, and every frontier key still reads as
    seen. (Four shards of 2500 keys and three of 3333 give cuckoo tables
    of the same shape: only the recorded shard count tells them apart.)"""
    wh = str(tmp_path / "wh")
    _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set]).start_session(
        _seeds(spark, fixture_dir, 40))
    eng = _engine(spark, fixture_dir, wh, **{**SEEN_SETS[seen_set], **changed})
    assert eng.resume() == []
    fr = SnapshotStore(wh).table("frontier").read(spark)
    assert fr.count() == 40
    assert eng.seen.with_maybe_seen(fr, "m").where(~F.col("m")).count() == 0


@pytest.mark.parametrize("seen_set", sorted(SEEN_SETS))
def test_untagged_blob_is_rebuilt_not_probed(spark, fixture_dir, tmp_path, seen_set):
    """A checkpoint whose seen-set blobs lack the format tag (written with
    the former splitmix positions) restores as no seen set, so resume
    rebuilds it over the frontier. The untagged blobs here hold no keys:
    probed with the current positions, every frontier key would read
    "definitely new" — a false negative."""
    wh = str(tmp_path / "wh")
    _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set]).start_session(
        _seeds(spark, fixture_dir, 40))
    store = SnapshotStore(wh)
    named = _named(store.read_checkpoints()[-1])
    assert named
    for name in named:
        path = os.path.join(wh, name)
        blob = open(path, "rb").read()
        # former layout: the same 12-byte shape header, no tag, all bits clear
        with open(path, "wb") as f:
            f.write(blob[8:20] + bytes(len(blob) - 20))

    eng = _engine(spark, fixture_dir, wh, **SEEN_SETS[seen_set])
    assert eng.resume() == []
    fr = store.table("frontier").read(spark)
    assert fr.count() == 40
    assert eng.seen.with_maybe_seen(fr, "m").where(~F.col("m")).count() == 0
    if eng.seen.sharded:
        assert not any(n.endswith(f"-v{v:08d}.bin") for n in named
                       for v in eng.seen.versions.values())
