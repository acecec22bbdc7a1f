"""Exact checkpoint resume: a run interrupted after round r (with a torn,
uncommitted round on disk) resumes to final tables identical to an
uninterrupted run (SURVEY.md §5.2 test 5), for every seen-set
configuration."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources.store import SnapshotStore

CFG = dict(max_depth=2, budget_per_host_per_round=3, max_rounds=8,
           use_bloom=True, bloom_expected_insertions=10_000)
KEY_COLS = {
    "frontier": ["url", "depth", "priority", "discovered_round", "parent_url"],
    "pages": ["round", "sched_seq", "url", "status_code", "content_length", "phash"],
    "done": ["session_id", "url"],
}
# seen-set configuration -> (config fields, last round). Rounds 5-8 only
# drain leftover URLs and each round costs ~10 s of fixed Spark overhead,
# so the other seen sets stop after round 4: two resumed rounds that still
# discover new URLs, compared against the reference's round-4 checkpoint.
SEEN_SETS = {
    "bloom": ({}, 8),
    "bloom-sharded": ({"bloom_shards": 4}, 4),
    "cuckoo": ({"seen_filter": "cuckoo"}, 4),
    "cuckoo-sharded": ({"seen_filter": "cuckoo", "bloom_shards": 4}, 4),
}


def _collect_sorted(spark, store, table, cols, as_of=None):
    df = store.table(table).read(spark, as_of=as_of)
    return df.select(*cols).orderBy(*cols).collect()


def _inputs(spark, fixture_dir):
    return tuple(spark.read.parquet(f"{fixture_dir}/{t}")
                 for t in ("web_graph", "payloads", "robots", "seeds"))


@pytest.fixture(scope="module")
def uninterrupted(spark, fixture_dir):
    """One uninterrupted bloom run. The seen set is only a prefilter, so
    every configuration's resumed run must reproduce its tables."""
    wg, pay, rob, seeds = _inputs(spark, fixture_dir)
    wh_a = tempfile.mkdtemp(prefix="dws-a-")
    store_a = SnapshotStore(wh_a)
    CrawlEngine(spark, store_a, CrawlConfig(**CFG), wg, pay, rob).run(seeds=seeds)
    yield store_a
    shutil.rmtree(wh_a, ignore_errors=True)


@pytest.mark.parametrize("seen_set", list(SEEN_SETS))
def test_resume_equals_uninterrupted(spark, fixture_dir, uninterrupted, seen_set):
    fields, last_round = SEEN_SETS[seen_set]
    cfg = CrawlConfig(**{**CFG, **fields, "max_rounds": last_round})
    wg, pay, rob, seeds = _inputs(spark, fixture_dir)

    wh_b = tempfile.mkdtemp(prefix="dws-b-")
    try:
        # interrupted run: 2 rounds, then a TORN round (append without
        # checkpoint), then resume from a fresh engine instance
        cfg2 = CrawlConfig(**{**cfg.__dict__, "max_rounds": 2})
        store_b = SnapshotStore(wh_b)
        CrawlEngine(spark, store_b, cfg2, wg, pay, rob).run(seeds=seeds)
        torn = store_b.table("frontier").read(spark).limit(3) \
            .withColumn("url", F.concat(F.lit("https://torn.example.test/x/"), F.col("url_hash")))
        store_b.table("frontier").append(torn)  # simulated crash mid-commit

        eng_b2 = CrawlEngine(spark, SnapshotStore(wh_b), cfg, wg, pay, rob)
        eng_b2.resume()

        ref = [c for c in uninterrupted.read_checkpoints() if c["round"] == last_round][-1]
        store_b_final = SnapshotStore(wh_b)
        for table, cols in KEY_COLS.items():
            assert _collect_sorted(spark, uninterrupted, table, cols,
                                   as_of=ref["tables"][table]) == \
                   _collect_sorted(spark, store_b_final, table, cols), table
    finally:
        shutil.rmtree(wh_b, ignore_errors=True)
