"""50+-round endurance drain (round-2 verdict #5): per-round
schedule/finalize walls over a long crawl, asserting the compaction
design's flat-cost claim with numbers instead of a docstring. Runs the
real engine on a generated fixture sized so budget-limited rounds stay
busy for the full horizon; prints one JSON line and a per-decade table.

Usage: python tools/bench_endurance.py [n_urls] [rounds] [budget]
Env:   DWS_ENDURE_RECRAWL=k  — every k rounds evict+reinject the oldest
       fetched URLs (TTL recrawl loop) under seen_filter="cuckoo" with
       bloom_shards=8, the sharded cuckoo seen set (operators/seen.py):
       adds per-phase cuckoo occupancy==frontier checks and reports them with the flat-cost
       decades. Without the env var the original pure-drain bench runs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_webcrawler_spark import CrawlConfig, get_spark  # noqa: E402
from distributed_webcrawler_spark.plans.engine import CrawlEngine  # noqa: E402
from distributed_webcrawler_spark.sources import datagen  # noqa: E402
from distributed_webcrawler_spark.sources.store import SnapshotStore  # noqa: E402


def main() -> None:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(cpus=cpus, shuffle_partitions=cpus,
                      app_name="dws-bench-endurance")
    fix = tempfile.mkdtemp(prefix="dws-endure-fix-",
                           dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    wh = tempfile.mkdtemp(prefix="dws-endure-wh-",
                          dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    try:
        datagen.write_fixture(spark, fix, n_urls=n_urls, n_hosts=40,
                              n_images=500, n_seeds=60, max_out_degree=12)
        recrawl_every = int(os.environ.get("DWS_ENDURE_RECRAWL", "0"))
        extra = ({"seen_filter": "cuckoo", "bloom_shards": 8}
                 if recrawl_every else {})
        cfg = CrawlConfig(max_depth=3, budget_per_host_per_round=budget,
                          max_rounds=rounds, use_bloom=True,
                          bloom_expected_insertions=max(n_urls * 2, 1000),
                          respect_robots=False, **extra)
        wg = spark.read.parquet(f"{fix}/web_graph")
        pay = spark.read.parquet(f"{fix}/payloads")
        seeds = spark.read.parquet(f"{fix}/seeds")
        store = SnapshotStore(wh)
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        if not recrawl_every:
            hist = eng.run(seeds=seeds)
            occ_checks = None
            total_reinjected = 0
        else:
            from pyspark.sql import functions as F

            eng.start_session(seeds)
            hist, occ_checks, total_reinjected = [], [], 0
            for rnd in range(1, rounds + 1):
                stats = eng.run_round(rnd)
                if stats.get("scheduled", 0) == 0:
                    break
                hist.append(stats)
                if rnd % recrawl_every == 0:
                    pages = store.table("pages").read(spark)
                    due = (pages.where((F.col("status_code") == 200)
                                       & (F.col("round") <= rnd - recrawl_every // 2))
                           .select("session_id", "url").distinct()
                           .orderBy("url").limit(200)).cache()
                    res = eng.reinject_for_recrawl(due)
                    total_reinjected += res["reinjected"]
                    occ_checks.append(bool(
                        eng.seen.occupancy()
                        == store.table("frontier").total_rows()))
                    due.unpersist()
        decades = {}
        for lo in range(0, len(hist), 10):
            chunk = hist[lo:lo + 10]
            decades[f"r{lo + 1}-r{lo + len(chunk)}"] = {
                "wall_med": round(statistics.median(h["wall_secs"] for h in chunk), 2),
                "sched_med": round(statistics.median(
                    h["stage_secs"]["schedule"] for h in chunk), 2),
                "done_med": round(statistics.median(
                    h["stage_secs"]["progress_done"] for h in chunk), 2),
                "scheduled": sum(h["scheduled"] for h in chunk),
            }
        walls = [h["wall_secs"] for h in hist]
        out = {
            "bench": "endurance_drain", "rounds_run": len(hist),
            "n_urls": n_urls, "budget": budget, "cpus": cpus,
            "wall_median_early_s": round(statistics.median(walls[1:11]), 2),
            "wall_median_late_s": round(statistics.median(walls[-10:]), 2),
            "late_over_early": round(statistics.median(walls[-10:])
                                     / statistics.median(walls[1:11]), 3),
            "total_fetched": sum(h["scheduled"] for h in hist),
            "decades": decades,
        }
        if occ_checks is not None:
            out["bench"] = "endurance_recrawl"
            out["recrawl_every"] = recrawl_every
            out["total_reinjected"] = total_reinjected
            out["occupancy_checks_passed"] = f"{sum(occ_checks)}/{len(occ_checks)}"
            assert all(occ_checks), "cuckoo occupancy drifted from live frontier"
        print(json.dumps(out))
    finally:
        shutil.rmtree(fix, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
