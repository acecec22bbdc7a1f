"""Long-crawl endurance (round-2 verdict #5): the compaction design claims
FLAT per-round cost as crawl age grows — prove it over a 40-round crawl,
and prove exact resume deep into a long crawl (kill after round 25 with a
torn round on disk -> resume -> byte-identical to uninterrupted)."""

from __future__ import annotations

import shutil
import statistics
import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources.store import SnapshotStore


@pytest.fixture(scope="module")
def long_fixture(spark):
    from distributed_webcrawler_spark.sources import datagen

    tmp = tempfile.mkdtemp(prefix="dws-endure-")
    # enough URLs that a budget-1 crawl stays busy for 40+ rounds
    datagen.write_fixture(spark, tmp, n_urls=3000, n_hosts=10, n_images=60,
                          n_seeds=20, max_out_degree=12)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _cfg(**kw):
    base = dict(max_depth=3, budget_per_host_per_round=1, max_rounds=40,
                use_bloom=True, bloom_expected_insertions=20_000,
                respect_robots=False)
    base.update(kw)
    return CrawlConfig(**base)


def _tables(spark, store):
    key_cols = {
        "frontier": ["url", "depth", "priority", "discovered_round", "parent_url"],
        "pages": ["round", "sched_seq", "url", "status_code", "content_length", "phash"],
        "done": ["session_id", "url"],
    }
    return {t: store.table(t).read(spark).select(*c).orderBy(*c).collect()
            for t, c in key_cols.items()}


def test_forty_round_crawl_flat_cost_and_deep_resume(spark, long_fixture):
    wg = spark.read.parquet(f"{long_fixture}/web_graph")
    pay = spark.read.parquet(f"{long_fixture}/payloads")
    seeds = spark.read.parquet(f"{long_fixture}/seeds")

    wh_a = tempfile.mkdtemp(prefix="dws-end-a-")
    wh_b = tempfile.mkdtemp(prefix="dws-end-b-")
    try:
        store_a = SnapshotStore(wh_a)
        hist = CrawlEngine(spark, store_a, _cfg(), wg, pay, None).run(seeds=seeds)
        assert len(hist) >= 40, f"crawl drained early at round {len(hist)}"

        # flat per-round cost: the crawl's later rounds must not cost a
        # multiple of its early rounds (catches any re-aggregation of the
        # growing attempt log / frontier creeping back in). Medians over
        # 10-round windows, round 1 (JVM warm-up) excluded; the 2.5x bound
        # is generous for sandbox noise while still failing a linear blowup.
        walls = [h["wall_secs"] for h in hist]
        early = statistics.median(walls[1:11])
        late = statistics.median(walls[-10:])
        assert late <= 2.5 * early, (early, late, walls)

        # deep kill -> torn round -> resume: byte-identical at round 40
        store_b = SnapshotStore(wh_b)
        CrawlEngine(spark, store_b, _cfg(max_rounds=25), wg, pay, None).run(seeds=seeds)
        torn = (store_b.table("frontier").read(spark).limit(2)
                .withColumn("url", F.concat(F.lit("https://torn.example.test/"),
                                            F.col("url_hash"))))
        store_b.table("frontier").append(torn)  # crash mid-commit
        CrawlEngine(spark, SnapshotStore(wh_b), _cfg(), wg, pay, None).resume()

        a, b = _tables(spark, store_a), _tables(spark, SnapshotStore(wh_b))
        for t in a:
            assert a[t] == b[t], t
    finally:
        shutil.rmtree(wh_a, ignore_errors=True)
        shutil.rmtree(wh_b, ignore_errors=True)


def test_recrawl_endurance_cuckoo_occupancy_and_resume(spark, long_fixture):
    """Round-3 verdict #5: a long crawl with the TTL recrawl loop firing
    every k rounds under seen_filter='cuckoo' + sharded store. Asserts
    (a) flat per-round cost across recrawl phases, (b) cuckoo occupancy
    == live frontier rows after EVERY evict/reinject boundary (the
    one-fingerprint-per-row accounting survives the full lifecycle), and
    (c) kill -> torn row -> resume THROUGH an eviction boundary is
    byte-identical to the uninterrupted run."""
    wg = spark.read.parquet(f"{long_fixture}/web_graph")
    pay = spark.read.parquet(f"{long_fixture}/payloads")
    seeds = spark.read.parquet(f"{long_fixture}/seeds")
    RECRAWL_EVERY, RECRAWL_N, TOTAL = 8, 12, 32

    def cfg():
        return _cfg(max_rounds=TOTAL, seen_filter="cuckoo", bloom_shards=4,
                    bloom_expected_insertions=20_000)

    def due_set(store, rnd):
        # deterministic due set: oldest fetched URLs, stable order
        pages = store.table("pages").read(spark)
        return (pages.where((F.col("status_code") == 200)
                            & (F.col("round") <= rnd - 4))
                .select("session_id", "url").distinct()
                .orderBy("url").limit(RECRAWL_N)).cache()

    def scripted(eng, store, start, stop_after_reinject_at=None):
        """Drive rounds [start..TOTAL] with recrawl every RECRAWL_EVERY;
        returns (history, occupancy_checks) or stops early right after
        the reinject at the given round (kill point)."""
        hist, occ_ok = [], []
        for rnd in range(start, TOTAL + 1):
            hist.append(eng.run_round(rnd))
            if rnd % RECRAWL_EVERY == 0:
                due = due_set(store, rnd)
                res = eng.reinject_for_recrawl(due)
                assert res["evicted"] == res["reinjected"] > 0, res
                occ_ok.append(
                    eng.cuckoo_shards.occupancy()
                    == store.table("frontier").total_rows())
                due.unpersist()
                if stop_after_reinject_at == rnd:
                    return hist, occ_ok
        return hist, occ_ok

    wh_a = tempfile.mkdtemp(prefix="dws-rc-a-")
    wh_b = tempfile.mkdtemp(prefix="dws-rc-b-")
    try:
        # uninterrupted run
        store_a = SnapshotStore(wh_a)
        eng_a = CrawlEngine(spark, store_a, cfg(), wg, pay, None)
        eng_a.start_session(seeds)
        hist_a, occ_a = scripted(eng_a, store_a, 1)
        assert len(hist_a) == TOTAL
        assert occ_a and all(occ_a), occ_a
        walls = [h["wall_secs"] for h in hist_a]
        early = statistics.median(walls[1:9])
        late = statistics.median(walls[-8:])
        assert late <= 2.5 * early, (early, late)

        # killed run: stop immediately after the SECOND eviction boundary
        # (round 16), leave a torn frontier append, resume, continue
        store_b = SnapshotStore(wh_b)
        eng_b = CrawlEngine(spark, store_b, cfg(), wg, pay, None)
        eng_b.start_session(seeds)
        scripted(eng_b, store_b, 1, stop_after_reinject_at=2 * RECRAWL_EVERY)
        torn = (store_b.table("frontier").read(spark).limit(2)
                .withColumn("url", F.concat(F.lit("https://torn.example.test/"),
                                            F.col("url_hash"))))
        store_b.table("frontier").append(torn)
        # resume() restores state then CONTINUES via run() up to
        # cfg.max_rounds — cap max_rounds at the kill round so the scripted
        # loop (with its recrawl interleaving) drives every later round
        cfg_resume = cfg()
        cfg_resume.max_rounds = 2 * RECRAWL_EVERY
        eng_b2 = CrawlEngine(spark, SnapshotStore(wh_b), cfg_resume, wg, pay, None)
        eng_b2.resume()
        _, occ_b = scripted(eng_b2, SnapshotStore(wh_b), 2 * RECRAWL_EVERY + 1)
        assert all(occ_b)

        a, b = _tables(spark, store_a), _tables(spark, SnapshotStore(wh_b))
        for t in a:
            assert a[t] == b[t], t
    finally:
        shutil.rmtree(wh_a, ignore_errors=True)
        shutil.rmtree(wh_b, ignore_errors=True)
