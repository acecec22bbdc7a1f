"""Engine features beyond strict reference parity: session-scoped seen
sets, multi-session round-robin quotas (W2), transient-failure retries
(the retryCount the reference declares but never uses)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources.store import SnapshotStore


def test_multi_session_isolation_and_quota(spark, fixture_dir, warehouse):
    """Two sessions seeded with the SAME urls crawl independently: the seen
    set is per-session (same url fetched once per session), and the compat
    scheduler splits the batch across sessions (W2)."""
    cfg = CrawlConfig(max_depth=1, batch_size=8, max_rounds=3,
                      use_bloom=True, bloom_expected_insertions=10_000,
                      reference_compat=True, respect_robots=False)
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds, session_id="sess-A")
    eng.start_session(seeds, session_id="sess-B")
    eng.run()

    pages = store.table("pages").read(spark)
    per_sess = {r.session_id: r.n for r in
                pages.groupBy("session_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_sess) == {"sess-A", "sess-B"}
    # same urls crawled by both sessions (per-session seen set)
    a = {r.url for r in pages.where(F.col("session_id") == "sess-A").select("url").collect()}
    b = {r.url for r in pages.where(F.col("session_id") == "sess-B").select("url").collect()}
    assert a == b and len(a) > 0
    # no url fetched twice within one session
    dup = (pages.groupBy("session_id", "url").count().where(F.col("count") > 1).count())
    assert dup == 0
    # W2 quota: per round, each session got at most batch//2 slots
    per_round = {(r.session_id, r.round): r.n for r in
                 pages.groupBy("session_id", "round").agg(F.count("*").alias("n")).collect()}
    assert all(n <= cfg.batch_size // 2 for n in per_round.values())


def test_transient_failures_retry_then_give_up(spark, fixture_dir, warehouse):
    """max_retries=2: connection-level failures (status 0) are re-attempted
    twice more, then abandoned; HTTP errors (404/500) are never retried."""
    cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=10_000,
                      max_rounds=6, use_bloom=False, respect_robots=False,
                      max_retries=2)
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    # seed with every url so all statuses (200/404/500/0) appear at depth 0
    seeds = wg.select("url", F.monotonically_increasing_id().cast("int").alias("seq")).limit(200)
    eng.start_session(seeds)
    eng.run()

    pages = store.table("pages").read(spark)
    attempts = {(r.url): (r.n, r.status_code) for r in
                pages.groupBy("url").agg(F.count("*").alias("n"), F.max("status_code").alias("status_code")).collect()}
    transient = {u: n for u, (n, sc) in attempts.items() if sc == 0}
    http_fail = {u: n for u, (n, sc) in attempts.items() if sc in (404, 500)}
    ok = {u: n for u, (n, sc) in attempts.items() if sc == 200}
    assert transient, "fixture should contain status-0 urls"
    assert all(n == 3 for n in transient.values())   # 1 try + 2 retries
    assert all(n == 1 for n in http_fail.values())   # permanent: never retried
    assert all(n == 1 for n in ok.values())


def test_fetch_join_strategy_shuffle_matches_broadcast(spark, fixture_dir, warehouse):
    """The shuffle fetch-join plan (drain/backfill regime) must produce
    byte-identical crawl results to the broadcast plan (dimension-lookup
    regime) — strategy is a physical choice, never a semantic one."""
    import tempfile

    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    outs = {}
    for strat in ("broadcast", "shuffle"):
        cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=10_000,
                          max_rounds=4, use_bloom=True,
                          bloom_expected_insertions=10_000,
                          respect_robots=False, fetch_join_strategy=strat)
        wh = warehouse if strat == "broadcast" else tempfile.mkdtemp(prefix="dws-shuf-")
        store = SnapshotStore(wh)
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        pages = store.table("pages").read(spark)
        outs[strat] = {
            tuple(r) for r in pages.select(
                "round", "url", "status_code", "content_length", "image_id",
                "depth", "parent_url").collect()}
    assert outs["broadcast"] == outs["shuffle"]
    assert len(outs["broadcast"]) > 0


def test_store_page_bytes_off_keeps_decode_and_reference(spark, fixture_dir, warehouse):
    """Both page-storage modes run the one decode plan: the same crawl with
    store_page_bytes on and off writes the same pages except `bytes` (and
    the plan-dependent partition_id / crawl_duration_ms). Off-mode pages
    carry NO inline blob (10^10-tier mode — the payload store already holds
    the bytes, keyed by image_id) but the decode still ran and image_id
    still references the payload row; on-mode bytes are exactly the
    payload blob of the row's image_id."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.createDataFrame(
        [(r.url, i) for i, r in enumerate(wg.select("url").limit(100).collect())],
        "url string, seq int")
    pages = {}
    for inline in (True, False):
        cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=10_000,
                          max_rounds=1, use_bloom=False, respect_robots=False,
                          store_page_bytes=inline)
        store = SnapshotStore(f"{warehouse}/inline-{inline}")
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        pages[inline] = store.table("pages").read(spark)
    on, off = pages[True], pages[False]

    cols = [c for c in off.columns
            if c not in ("bytes", "partition_id", "crawl_duration_ms")]
    rows_on = sorted(map(repr, on.select(*cols).collect()))
    assert rows_on == sorted(map(repr, off.select(*cols).collect()))
    assert len(rows_on) == 100

    assert off.where(F.col("bytes").isNotNull()).count() == 0
    ok = off.where((F.col("status_code") == 200) & F.col("image_id").isNotNull())
    n_ok = ok.count()
    assert n_ok > 0
    decoded = ok.where(F.col("phash").isNotNull() & F.col("decoded_w").isNotNull()
                       & (F.col("content_length") > 0))
    assert decoded.count() == n_ok
    # the reference resolves: joining back to payloads recovers every blob
    joined = ok.select("image_id").join(pay, "image_id").count()
    assert joined == n_ok

    # on-mode: every 200 row with a payload carries exactly that blob, and
    # no other row carries bytes
    with_payload = (on.where(F.col("status_code") == 200)
                    .join(pay.select("image_id", F.col("bytes").alias("pbytes")), "image_id"))
    assert with_payload.count() == n_ok
    assert with_payload.where(~F.col("bytes").eqNullSafe(F.col("pbytes"))).count() == 0
    assert on.where(F.col("bytes").isNotNull()).count() == n_ok


def test_stop_pause_resume_session(spark, fixture_dir, warehouse):
    """Session control (CrawlerManager.java:128-137 stopCrawlSession): a
    STOPPED session is excluded from scheduling at the next round boundary;
    PAUSED sessions resume where they left off."""
    cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=2, max_rounds=1,
                      use_bloom=False, respect_robots=False)
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds, session_id="sess-A")
    eng.start_session(seeds, session_id="sess-B")
    eng.run()
    pages_r1 = store.table("pages").read(spark)
    assert {r.session_id for r in pages_r1.select("session_id").distinct().collect()} \
        == {"sess-A", "sess-B"}

    # stop A: next rounds schedule only B
    eng.stop_session("sess-A")
    eng.cfg.max_rounds = 2
    eng.run()
    pages = store.table("pages").read(spark)
    r2_sessions = {r.session_id
                   for r in pages.where(F.col("round") == 2).select("session_id").distinct().collect()}
    assert r2_sessions == {"sess-B"}

    # pause B, nothing schedulable -> round 3 is empty and the loop exits
    eng.pause_session("sess-B")
    eng.cfg.max_rounds = 3
    hist = eng.run()
    assert hist == [] or all(h["scheduled"] == 0 for h in hist)
    pages = store.table("pages").read(spark)
    assert pages.where(F.col("round") == 3).count() == 0

    # resume B -> it picks up scheduling again
    eng.resume_session("sess-B")
    eng.cfg.max_rounds = 4
    eng.run()
    pages = store.table("pages").read(spark)
    r4_sessions = {r.session_id
                   for r in pages.where(F.col("round") == 4).select("session_id").distinct().collect()}
    assert r4_sessions == {"sess-B"}


def test_pending_is_compacted_anti_join_not_log_rescan(spark, fixture_dir, warehouse):
    """The pending view must be a single anti-join against the compacted
    `done` table — NOT a re-aggregation of the whole attempt log, pages
    (whose cost grows with crawl age). Assert the plan has no Aggregate
    over the log and that semantics hold across many rounds: nothing is
    ever scheduled twice, every attempted url is done, and every finished
    url leaves pending. No second attempt log is written."""
    cfg = CrawlConfig(max_depth=3, budget_per_host_per_round=3, max_rounds=12,
                      use_bloom=False, respect_robots=False)
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds)
    eng.run()

    plan = eng.pending()._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan       # no per-round log re-aggregation
    assert "LeftAnti" in plan

    pages = store.table("pages").read(spark)
    dup = pages.groupBy("session_id", "url").count().where(F.col("count") > 1).count()
    assert dup == 0                      # nothing fetched twice
    done = store.table("done").read(spark)
    attempted = pages.select("session_id", "url").distinct()
    # every attempted url is in done exactly once (max_retries=0: final on attempt)
    assert done.count() == attempted.count()
    assert done.join(attempted, ["session_id", "url"], "left_anti").count() == 0
    assert not os.path.exists(os.path.join(warehouse, "progress"))
    # pending has no url that is done
    pend = eng.pending()
    assert pend.join(done, ["session_id", "url"], "inner").count() == 0


def test_sharded_bloom_engine_equivalence(spark, fixture_dir, tmp_path):
    """cfg.bloom_shards > 1 (executor-side sharded filters) must change
    NOTHING about crawl output vs the exact no-bloom path — the bloom is a
    prefilter, never an authority (SURVEY.md §7b)."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    def run(wh, **kw):
        cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4,
                          max_rounds=3, respect_robots=False, **kw)
        store = SnapshotStore(str(wh))
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        return store, eng

    st_exact, _ = run(tmp_path / "wh-exact", use_bloom=False)
    st_shard, eng = run(tmp_path / "wh-shard", use_bloom=True, bloom_shards=4,
                        bloom_expected_insertions=10_000)
    assert eng.bloom_shards is not None and eng.bloom is None
    assert len(eng.bloom_shards.versions) > 0    # shards actually built

    def rows(store, table):
        df = store.table(table).read(spark)
        cols = [c for c in df.columns if c != "partition_id"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(st_exact, "frontier") == rows(st_shard, "frontier")
    assert rows(st_exact, "pages") == rows(st_shard, "pages")


def test_crawl_delay_budgets_cap_per_host(spark, fixture_dir, warehouse):
    """cfg.crawl_delay_budgets: hosts whose robots.txt declares Crawl-delay
    get budget = min(engine cap, floor(round_window / delay)); hosts without
    a robots row keep the engine cap. Scheduled (= attempted) rows per
    (host, round) must respect each host's own cap."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    hosts = sorted(r.host for r in wg.select(
        F.parse_url("url", F.lit("HOST")).alias("host")).distinct().collect())
    slow, fast = hosts[0], hosts[1]
    robots = spark.createDataFrame(
        [(slow, "User-agent: *\nCrawl-delay: 30"),     # floor(60/30) = 2
         (fast, "User-agent: *\ncrawl-delay: 0.5")],   # min(cap, 120) = cap
        "host string, robots_txt string")
    cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=5,
                      crawl_delay_budgets=True, round_window_s=60,
                      max_rounds=4, use_bloom=False, respect_robots=False)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, robots)
    seeds = wg.select("url", F.monotonically_increasing_id().cast("int").alias("seq"))
    eng.start_session(seeds)
    eng.run()

    pages = store.table("pages").read(spark)
    per = {(r.host, r.round): r.n for r in
           pages.groupBy("host", "round").agg(F.count("*").alias("n")).collect()}
    assert per, "no pages crawled"
    for (h, _), n in per.items():
        cap = 2 if h == slow else 5
        assert n <= cap, f"{h} scheduled {n} > cap {cap}"
    # the slow host was actually throttled below the engine-wide cap in at
    # least one round (it has >2 pending urls at depth 0)
    slow_rounds = [n for (h, _), n in per.items() if h == slow]
    assert slow_rounds and max(slow_rounds) == 2


def test_circuit_breaker_trips_and_recovers(spark, warehouse):
    """circuit_breaker: a host failing every fetch trips after round 1
    (excluded from round 2), re-enters once the window slides past its bad
    rounds, and ALL its URLs are still eventually attempted — an all-tripped
    empty round must not end the crawl."""
    from distributed_webcrawler_spark.sources import codec

    img = codec.encode_image(codec.synth_pixels("cbimg", 16, 16), "png")
    pay = spark.createDataFrame(
        [("cbimg", bytearray(img), 16, 16, "png", "cap", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    rows = []
    for i in range(12):
        rows.append((f"https://bad.example.com/{i}", "bad.example.com", [], None, 500))
        rows.append((f"https://good.example.com/{i}", "good.example.com", [], "cbimg", 200))
    wg = spark.createDataFrame(
        rows, "url string, host string, out_links array<string>, image_id string, status_code int")
    cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=6, max_rounds=8,
                      use_bloom=False, respect_robots=False,
                      circuit_breaker=True, cb_window_rounds=2,
                      cb_min_attempts=5, cb_max_fail_rate=0.5)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    seeds = wg.select("url", F.monotonically_increasing_id().cast("int").alias("seq"))
    eng.start_session(seeds)
    eng.run()

    pages = store.table("pages").read(spark)
    per = {(r.host, r.round): r.n for r in
           pages.groupBy("host", "round").agg(F.count("*").alias("n")).collect()}
    bad = {rnd: n for (h, rnd), n in per.items() if h == "bad.example.com"}
    # round 1 attempts trip the breaker -> excluded in round 2
    assert bad.get(1) == 6 and 2 not in bad
    # re-entry after the window slides; every bad URL eventually attempted
    assert sum(bad.values()) == 12 and max(bad) > 2
    # the healthy host was never held back
    good = {rnd: n for (h, rnd), n in per.items() if h == "good.example.com"}
    assert sum(good.values()) == 12 and set(good) == {1, 2}


def test_retry_backoff_schedule(spark, warehouse):
    """retry_backoff: attempt k failing in round r re-enters at r + 2^(k-1)
    (rounds 1,2,4,8 for a permanently-transient URL with max_retries=3);
    backoff-hold rounds schedule nothing but must NOT end the crawl."""
    from distributed_webcrawler_spark.sources import codec

    img = codec.encode_image(codec.synth_pixels("bkimg", 16, 16), "png")
    pay = spark.createDataFrame(
        [("bkimg", bytearray(img), 16, 16, "png", "cap", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    rows = [("https://t.example.com/x", "t.example.com", [], None, 0),
            ("https://t.example.com/ok", "t.example.com", [], "bkimg", 200)]
    wg = spark.createDataFrame(
        rows, "url string, host string, out_links array<string>, image_id string, status_code int")
    cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=100, max_rounds=10,
                      use_bloom=False, respect_robots=False,
                      max_retries=3, retry_backoff=True)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    seeds = wg.select("url", F.monotonically_increasing_id().cast("int").alias("seq"))
    eng.start_session(seeds)
    eng.run()

    pages = store.table("pages").read(spark)
    x_rounds = sorted(r.round for r in
                      pages.where(F.col("url").endswith("/x")).select("round").collect())
    # attempt 1 fails r1 -> +1 -> r2; attempt 2 fails r2 -> +2 -> r4;
    # attempt 3 fails r4 -> +4 -> r8; attempt 4 (r8) exhausts max_retries=3
    assert x_rounds == [1, 2, 4, 8]
    ok_rounds = [r.round for r in
                 pages.where(F.col("url").endswith("/ok")).select("round").collect()]
    assert ok_rounds == [1]


def test_adaptive_budget_throttles_failing_host(spark, warehouse):
    """adaptive_budget: a host failing every fetch is throttled to
    adaptive_min_budget once its stats window has evidence, while a
    healthy host keeps the full budget; with the breaker OFF the bad host
    keeps draining (slowly) instead of being cut off entirely."""
    from distributed_webcrawler_spark.sources import codec

    img = codec.encode_image(codec.synth_pixels("abimg", 16, 16), "png")
    pay = spark.createDataFrame(
        [("abimg", bytearray(img), 16, 16, "png", "cap", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long")
    rows = []
    for i in range(12):
        rows.append((f"https://flaky.example.com/{i}", "flaky.example.com", [], None, 500))
        rows.append((f"https://ok.example.com/{i}", "ok.example.com", [], "abimg", 200))
    wg = spark.createDataFrame(
        rows, "url string, host string, out_links array<string>, image_id string, status_code int")
    cfg = CrawlConfig(max_depth=0, budget_per_host_per_round=6, max_rounds=10,
                      use_bloom=False, respect_robots=False,
                      adaptive_budget=True, adaptive_min_budget=1,
                      cb_window_rounds=3, cb_min_attempts=5)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    seeds = wg.select("url", F.monotonically_increasing_id().cast("int").alias("seq"))
    eng.start_session(seeds)
    eng.run()

    pages = store.table("pages").read(spark)
    per = {(r.host, r.round): r.n for r in
           pages.groupBy("host", "round").agg(F.count("*").alias("n")).collect()}
    flaky = {rnd: n for (h, rnd), n in per.items() if h == "flaky.example.com"}
    ok = {rnd: n for (h, rnd), n in per.items() if h == "ok.example.com"}
    # round 1: no stats yet -> both at full budget
    assert flaky.get(1) == 6 and ok.get(1) == 6
    # evidence collected -> flaky throttled to the min budget, not cut off
    assert flaky.get(2) == 1
    # healthy host untouched (drains in rounds 1-2)
    assert sum(ok.values()) == 12 and set(ok) == {1, 2}
    # the throttled host still drains every URL eventually
    assert sum(flaky.values()) == 12


# (host, attempts, failures, round) host_stats rows for _host_caps at
# round 5 with cb_window_rounds=2, i.e. the window is rounds 3-4
_CAP_STATS = [
    ("edge.example.com", 6, 3, 3), ("edge.example.com", 4, 2, 4),  # f/a = 0.5 exactly
    ("few.example.com", 4, 4, 4),                                   # a = 4 < cb_min_attempts
    ("bad.example.com", 10, 10, 4),                                 # all fail
    ("thin.example.com", 5, 2, 4),                                  # ceil(6 * 3/5) = 4
    ("slow.example.com", 8, 1, 4),                                  # ceil(6 * 7/8) = 6
    ("old.example.com", 20, 20, 2), ("old.example.com", 6, 0, 3),   # round 2 is outside
    ("gone.example.com", 30, 30, 1),                                # only outside rows
]
# Crawl-delay caps floor(60 / delay): slow 2, bad 4, delay-only 3
_CAP_ROBOTS = [("slow.example.com", "User-agent: *\nCrawl-delay: 30"),
               ("bad.example.com", "User-agent: *\nCrawl-delay: 15"),
               ("delay.example.com", "User-agent: *\nCrawl-delay: 20")]


def _caps_restated(cfg, rnd, delay_caps):
    """The cap formula restated over _CAP_STATS in plain Python."""
    import math

    window: dict[str, tuple[int, int]] = {}
    for host, a, f, r in _CAP_STATS:
        if r >= rnd - cfg.cb_window_rounds:
            wa, wf = window.get(host, (0, 0))
            window[host] = (wa + a, wf + f)
    caps = {}
    for host, (a, f) in window.items():
        if a < cfg.cb_min_attempts:
            continue
        if cfg.circuit_breaker and f / a > cfg.cb_max_fail_rate:
            caps[host] = 0
        elif cfg.adaptive_budget:
            caps[host] = max(cfg.adaptive_min_budget,
                             math.ceil(cfg.budget_per_host_per_round * (a - f) / a))
    for host, b in delay_caps.items():
        caps[host] = min(caps.get(host, b), b)
    return caps


@pytest.mark.parametrize("knobs,delay_caps", [
    # breaker trip overrides the adaptive cap; Crawl-delay min on top
    (dict(circuit_breaker=True, adaptive_budget=True, crawl_delay_budgets=True),
     {"slow.example.com": 2, "bad.example.com": 4, "delay.example.com": 3}),
    # adaptive alone: the all-fail host is floored at adaptive_min_budget
    (dict(adaptive_budget=True, adaptive_min_budget=2), {}),
    # breaker alone: only tripped hosts get a row (cap 0)
    (dict(circuit_breaker=True), {}),
], ids=["breaker+adaptive+delay", "adaptive-floor", "breaker-only"])
def test_host_caps_match_restated_formula(spark, warehouse, knobs, delay_caps):
    """_host_caps over a hand-built host_stats snapshot equals the Python
    restatement row by row: f/a exactly at cb_max_fail_rate does not trip,
    a host just below cb_min_attempts and rows outside the cb_window_rounds
    window give no cap, the adaptive floor holds, a trip wins over the
    adaptive cap, and Crawl-delay caps merge by min."""
    cfg = CrawlConfig(budget_per_host_per_round=6, cb_window_rounds=2, cb_min_attempts=5,
                      cb_max_fail_rate=0.5, round_window_s=60, respect_robots=False,
                      use_bloom=False, **knobs)
    robots = spark.createDataFrame(_CAP_ROBOTS, "host string, robots_txt string")
    store = SnapshotStore(warehouse)
    store.table("host_stats").append(spark.createDataFrame(
        _CAP_STATS, "host string, attempts int, failures int, round int"))
    eng = CrawlEngine(spark, store, cfg, None, None, robots)
    got = {r.host: r.budget for r in eng._host_caps(5).collect()}
    want = _caps_restated(cfg, 5, delay_caps)
    assert got == want
    # the cases the fixture is built to reach
    assert "few.example.com" not in got and "gone.example.com" not in got
    if cfg.circuit_breaker:
        assert got["bad.example.com"] == 0
    if cfg.adaptive_budget:
        assert got["edge.example.com"] >= 3 and got["old.example.com"] == 6


def test_cuckoo_seen_filter_engine_equivalence(spark, fixture_dir, tmp_path):
    """seen_filter="cuckoo" must change NOTHING about crawl output vs the
    exact no-filter path — same prefilter-only contract as the bloom
    (SURVEY.md §7b), different lifecycle (deletable)."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    def run(wh, **kw):
        cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4,
                          max_rounds=3, respect_robots=False, **kw)
        store = SnapshotStore(str(wh))
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        return store, eng

    st_exact, _ = run(tmp_path / "wh-exact", use_bloom=False)
    st_ck, eng = run(tmp_path / "wh-ck", use_bloom=True, seen_filter="cuckoo",
                     bloom_expected_insertions=10_000)
    assert eng.cuckoo is not None and eng.bloom is None and eng.bloom_shards is None
    assert eng.cuckoo.occupancy == st_ck.table("frontier").total_rows()

    def rows(store, table):
        df = store.table(table).read(spark)
        cols = [c for c in df.columns if c != "partition_id"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(st_exact, "frontier") == rows(st_ck, "frontier")
    assert rows(st_exact, "pages") == rows(st_ck, "pages")


def test_recrawl_eviction_and_reinject_cuckoo(spark, fixture_dir, warehouse):
    """The TTL recrawl loop seen_filter="cuckoo" exists for: evict a
    fetched URL (forgotten from frontier/done AND the filter — occupancy
    drops, which a bloom cannot do), re-inject it, and the next run()
    round re-fetches it, appending a second pages row at the new round."""
    import numpy as np

    from distributed_webcrawler_spark.functions.urls import url_hash as _uh

    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4, max_rounds=12,
                      respect_robots=False, use_bloom=True, seen_filter="cuckoo",
                      bloom_expected_insertions=10_000)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds)
    hist = eng.run()
    drained_round = hist[-1]["round"]
    assert drained_round < 12, "fixture crawl should drain before max_rounds"

    target = (store.table("pages").read(spark)
              .where(F.col("status_code") == 200)
              .select("session_id", "url").orderBy("url").limit(1)).cache()
    (t_sess, t_url), = target.collect()
    t_hash = int(target.select(_uh(F.col("url")).alias("h")).first()["h"])
    occ_before = eng.cuckoo.occupancy
    assert bool(eng.cuckoo.might_contain_many(np.array([t_hash]))[0])

    res = eng.evict_for_recrawl(urls=target)
    assert res["evicted"] == 1
    assert eng.cuckoo.occupancy == occ_before - 1
    # forgotten everywhere: frontier, done, filter (fpp-level residual ok)
    fr = store.table("frontier").read(spark)
    assert fr.where((F.col("session_id") == t_sess) & (F.col("url") == t_url)).count() == 0
    done = store.table("done").read(spark)
    assert done.where((F.col("session_id") == t_sess) & (F.col("url") == t_url)).count() == 0

    res2 = eng.reinject_for_recrawl(target)
    assert res2["reinjected"] == 1 and res2["evicted"] == 0  # already forgotten
    assert eng.cuckoo.occupancy == occ_before
    hist2 = eng.run()
    assert hist2 and hist2[0]["round"] == drained_round + 1
    refetched = (store.table("pages").read(spark)
                 .where((F.col("session_id") == t_sess) & (F.col("url") == t_url))
                 .select("round", "status_code").orderBy("round").collect())
    assert [r.status_code for r in refetched] == [200, 200]
    assert refetched[1].round == drained_round + 1
    target.unpersist()


def test_recrawl_eviction_requires_cuckoo_on_bloom(spark, fixture_dir, warehouse):
    """bloom mode cannot delete fingerprints: evict_for_recrawl refuses by
    default (the filter would only accumulate ghosts), and with
    allow_stale_filter=True proceeds with the documented degradation —
    tables forget the key but might_contain stays True."""
    import numpy as np
    import pytest as _pytest

    from distributed_webcrawler_spark.functions.urls import url_hash as _uh

    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")
    cfg = CrawlConfig(max_depth=1, budget_per_host_per_round=4, max_rounds=3,
                      respect_robots=False, use_bloom=True,
                      bloom_expected_insertions=10_000)
    store = SnapshotStore(warehouse)
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds)
    eng.run()
    target = (store.table("pages").read(spark)
              .where(F.col("status_code") == 200)
              .select("session_id", "url").orderBy("url").limit(1)).cache()
    with _pytest.raises(RuntimeError, match="cannot delete"):
        eng.evict_for_recrawl(urls=target)
    t_hash = int(target.select(_uh(F.col("url")).alias("h")).first()["h"])
    res = eng.evict_for_recrawl(urls=target, allow_stale_filter=True)
    assert res["evicted"] == 1
    (t_sess, t_url), = target.collect()
    fr = store.table("frontier").read(spark)
    assert fr.where((F.col("session_id") == t_sess) & (F.col("url") == t_url)).count() == 0
    assert bool(eng.bloom.might_contain_many(np.array([t_hash]))[0])  # the ghost
    target.unpersist()


def test_sharded_cuckoo_engine_equivalence_and_eviction(spark, fixture_dir, tmp_path):
    """seen_filter='cuckoo' + bloom_shards>1 = the ShardedCuckooStore
    lifecycle: crawl output identical to the exact path, occupancy equals
    live frontier rows, eviction deletes fingerprints EXECUTOR-side
    (occupancy drops; driver never collects keys), and a resumed engine
    restores the shard manifest from the checkpoint."""
    import numpy as np

    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    def run(wh, **kw):
        cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4,
                          max_rounds=3, respect_robots=False, **kw)
        store = SnapshotStore(str(wh))
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        return store, eng

    st_exact, _ = run(tmp_path / "wh-exact", use_bloom=False)
    st_cs, eng = run(tmp_path / "wh-cs", use_bloom=True, seen_filter="cuckoo",
                     bloom_shards=4, bloom_expected_insertions=10_000)
    assert eng.cuckoo_shards is not None and eng.cuckoo is None and eng.bloom is None
    assert len(eng.cuckoo_shards.versions) > 0
    assert eng.cuckoo_shards.occupancy() == st_cs.table("frontier").total_rows()

    def rows(store, table):
        df = store.table(table).read(spark)
        cols = [c for c in df.columns if c != "partition_id"]
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(st_exact, "frontier") == rows(st_cs, "frontier")
    assert rows(st_exact, "pages") == rows(st_cs, "pages")

    # executor-side eviction: forget 3 fetched URLs, occupancy drops by 3
    target = (st_cs.table("pages").read(spark)
              .where(F.col("status_code") == 200)
              .select("session_id", "url").orderBy("url").limit(3)).cache()
    occ_before = eng.cuckoo_shards.occupancy()
    res = eng.evict_for_recrawl(urls=target)
    assert res["evicted"] == 3
    assert eng.cuckoo_shards.occupancy() == occ_before - 3

    # reinject re-adds the fingerprints and a fresh engine resumes from
    # the checkpointed shard manifest (same versions dict)
    res2 = eng.reinject_for_recrawl(target)
    assert res2["reinjected"] == 3
    assert eng.cuckoo_shards.occupancy() == occ_before
    versions = dict(eng.cuckoo_shards.versions)
    # several extra rounds: reinjected URLs compete with other pending
    # rows under the per-host budget, so one round may not drain them
    cfg2 = CrawlConfig(max_depth=2, budget_per_host_per_round=4,
                       max_rounds=8, respect_robots=False, use_bloom=True,
                       seen_filter="cuckoo", bloom_shards=4,
                       bloom_expected_insertions=10_000)
    eng2 = CrawlEngine(spark, SnapshotStore(str(tmp_path / "wh-cs")), cfg2,
                       wg, pay, None)
    eng2.resume()
    assert eng2.cuckoo_shards is not None
    for k, v in versions.items():
        assert eng2.cuckoo_shards.versions.get(k, 0) >= v
    # the reinjected URLs were re-fetched at the resumed round
    refetched = (SnapshotStore(str(tmp_path / "wh-cs")).table("pages").read(spark)
                 .join(target, ["session_id", "url"], "left_semi")
                 .groupBy("session_id", "url").count().collect())
    assert len(refetched) == 3 and all(r["count"] == 2 for r in refetched)
    target.unpersist()


def test_repeat_start_session_keeps_one_fingerprint_per_frontier_row(
        spark, fixture_dir, tmp_path):
    """start_session folds ONLY its own appended seed snapshot into the
    sharded seen stores (round-4 advice): a second session on the same
    warehouse (explicitly supported) must not re-insert the existing
    frontier's fingerprints — cuckoo inserts are not idempotent, so a
    full-frontier refold would store duplicate copies, break
    evict_for_recrawl's one-delete-per-row accounting, and inflate
    occupancy toward the shard-full error."""
    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4, max_rounds=2,
                      respect_robots=False, use_bloom=True,
                      seen_filter="cuckoo", bloom_shards=4,
                      bloom_expected_insertions=10_000)
    store = SnapshotStore(str(tmp_path / "wh"))
    eng = CrawlEngine(spark, store, cfg, wg, pay, None)
    eng.start_session(seeds, "sess-a")
    eng.run()
    n_after_crawl = store.table("frontier").total_rows()
    assert eng.cuckoo_shards.occupancy() == n_after_crawl

    # second session, same seed URLs (new session_id rows in the frontier):
    # occupancy grows by exactly the appended seed rows, not by a refold
    eng.start_session(seeds, "sess-b")
    n_after_second = store.table("frontier").total_rows()
    assert n_after_second > n_after_crawl
    assert eng.cuckoo_shards.occupancy() == n_after_second

    # the accounting survives an eviction round-trip after the re-seed
    target = (store.table("pages").read(spark)
              .where(F.col("status_code") == 200)
              .select("session_id", "url").orderBy("url").limit(2)).cache()
    res = eng.evict_for_recrawl(urls=target)
    assert res["evicted"] == 2
    assert eng.cuckoo_shards.occupancy() == n_after_second - 2
    target.unpersist()


def test_evict_driver_guard_single_filter_refuses_above_threshold(
        spark, fixture_dir, tmp_path):
    """r4 verdict "what's wrong" #2: single-filter cuckoo eviction
    materializes victim url_hashes driver-side (the CuckooFilter is a
    driver object) — fine at the single-filter tier, a driver-OOM vector
    on a big frontier. Above cfg.evict_driver_max_rows it must REFUSE
    and point at the sharded store; the sharded path evicts the same
    >threshold set executor-side with no driver key materialization."""
    import pytest as _pytest

    wg = spark.read.parquet(f"{fixture_dir}/web_graph")
    pay = spark.read.parquet(f"{fixture_dir}/payloads")
    seeds = spark.read.parquet(f"{fixture_dir}/seeds")

    def run(wh, **kw):
        cfg = CrawlConfig(max_depth=2, budget_per_host_per_round=4,
                          max_rounds=3, respect_robots=False, use_bloom=True,
                          seen_filter="cuckoo", bloom_expected_insertions=10_000,
                          evict_driver_max_rows=2, **kw)
        store = SnapshotStore(str(wh))
        eng = CrawlEngine(spark, store, cfg, wg, pay, None)
        eng.start_session(seeds)
        eng.run()
        return store, eng

    st1, eng1 = run(tmp_path / "wh-single")
    target = (st1.table("pages").read(spark)
              .where(F.col("status_code") == 200)
              .select("session_id", "url").orderBy("url").limit(3)).cache()
    assert target.count() == 3  # > evict_driver_max_rows
    with _pytest.raises(RuntimeError, match="evict_driver_max_rows"):
        eng1.evict_for_recrawl(urls=target)
    # under the threshold the driver path still works
    small = target.limit(2).cache()
    assert eng1.evict_for_recrawl(urls=small)["evicted"] == 2

    # sharded store: same >threshold eviction succeeds (executor-side)
    st2, eng2 = run(tmp_path / "wh-sharded", bloom_shards=4)
    target2 = (st2.table("pages").read(spark)
               .where(F.col("status_code") == 200)
               .select("session_id", "url").orderBy("url").limit(3)).cache()
    occ = eng2.cuckoo_shards.occupancy()
    assert eng2.evict_for_recrawl(urls=target2)["evicted"] == 3
    assert eng2.cuckoo_shards.occupancy() == occ - 3
    for df in (target, small, target2):
        df.unpersist()
