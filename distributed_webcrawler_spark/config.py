"""Crawl configuration.

Mirrors the knobs the reference exposes (SURVEY.md §1.2) — plus the ones it
declares but never enforces (maxPages, allowedDomains, ...) which this
engine enforces for real. ``reference_compat`` reproduces the reference's
*effective* behavior for parity testing:

- global (not per-host) politeness budget — the reference sleeps 500ms per
  worker thread before every fetch (BasicCrawler.java:31-32, 72-74),
- global priority-ordered batch claim (ZREVRANGE semantics,
  CrawlUrlRepository.java:35) instead of per-host-bucket ranking,
- resolve-only URL canonicalization that KEEPS fragments
  (BasicCrawler.java:154; observed in logs/webcrawler.log 00:32:17.780).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    session_id: str = "session-0"
    max_depth: int = 2              # reference hardcodes 2 (CrawlerManager.java:65-66)
    max_rounds: int = 50
    batch_size: int = 20            # reference claim batch (application.properties:25)
    # per-host fetches allowed per round; clean-mode politeness
    # (= floor(round_seconds*1000 / politeness_delay_ms) on a wall-clock deploy)
    budget_per_host_per_round: int = 4
    # honor robots.txt Crawl-delay (de-facto extension): per-host budget =
    # min(budget_per_host_per_round, floor(round_window_s / crawl_delay));
    # hosts without a robots row keep budget_per_host_per_round.
    crawl_delay_budgets: bool = False
    round_window_s: int = 60
    # per-host error circuit breaker: a host whose fetch failure rate over
    # the last cb_window_rounds exceeds cb_max_fail_rate (with at least
    # cb_min_attempts attempts in the window) gets a budget cap of 0 until
    # the window slides past the bad rounds. Failure = connection error
    # (status 0) or HTTP error; robots 403 rows never count (they are
    # never fetched). The breaker, adaptive_budget and crawl_delay_budgets
    # caps form one per-host cap table (CrawlEngine._host_caps) that only
    # the clean-mode scheduler applies: reference_compat applies none of
    # them (the reference has no breaker either).
    circuit_breaker: bool = False
    cb_window_rounds: int = 3
    cb_min_attempts: int = 8
    cb_max_fail_rate: float = 0.5
    # graded per-host budget adaptation (the analog step between full budget
    # and the breaker's open circuit): budget_h = max(adaptive_min_budget,
    # ceil(budget_per_host_per_round * success_rate_h)) over the same
    # cb_window_rounds/cb_min_attempts host_stats window. Hosts without
    # enough attempts keep the full budget; composes with crawl-delay caps
    # by taking the smaller cap, and a breaker trip (cap 0) wins. Requires
    # host_stats collection, so it implies the same per-round stats append
    # the circuit breaker uses.
    adaptive_budget: bool = False
    adaptive_min_budget: int = 1
    respect_robots: bool = True
    # live-robots (fetch_mode="http") retry TTL: a TRANSIENT robots.txt
    # fetch failure (timeout/refused/5xx) is treated as allow-all for this
    # many rounds, then the host becomes refetch-eligible again. Definitive
    # answers (200, or 4xx = no robots file) are never refetched.
    robots_error_ttl_rounds: int = 8
    user_agent: str = "dws-crawler"
    max_pages: int | None = None    # enforced in clean mode; reference stores-but-ignores
    # clean-mode retries for TRANSIENT failures (status_code 0). The reference
    # declares retryCount but never increments it (CrawlUrl.java:23) and drops
    # failures forever (URLFrontier.java:198-202); 0 reproduces that.
    max_retries: int = 0
    # exponential retry backoff (only meaningful with max_retries > 0): a
    # URL whose attempt k failed in round r becomes schedulable again at
    # round r + 2^(k-1) instead of immediately next round — transient
    # failures (status 0) usually need TIME, not a faster retry.
    retry_backoff: bool = False
    allowed_domains: list[str] = field(default_factory=list)
    disallowed_url_prefixes: list[str] = field(default_factory=list)

    # Copy each fetched payload's bytes INLINE into its pages row (the
    # reference keeps content/rawHtml on the page entity,
    # CrawledPageEntity.java:20-37). False = pages hold only image_id as
    # the blob reference: at the 10^10-URL tier inlining duplicates
    # petabytes the payload store already holds. The decode plan is the
    # same either way (each distinct payload decoded once per round); this
    # flag only decides whether the blob is copied into pages.
    store_page_bytes: bool = True

    # engine mechanics
    reference_compat: bool = False
    use_bloom: bool = True
    # seen-set filter (the north rule's "bloom/cuckoo"); operators/seen.py
    # builds it from this field and the bloom_* fields below:
    #   "bloom"  — append-only.
    #   "cuckoo" — deletable fingerprints: REQUIRED for TTL recrawl
    #       eviction (CrawlEngine.evict_for_recrawl) — a bloom cannot
    #       remove dead keys, so under recrawl its fpp only degrades while
    #       a cuckoo sized for the LIVE seen set runs forever.
    # Either runs as one driver-held filter or, with bloom_shards > 1, as
    # the sharded store. Both are PREFILTERS: hits still route through the
    # exact anti-join.
    seen_filter: str = "bloom"
    bloom_expected_insertions: int = 10_000_000  # application.properties:33
    bloom_fpp: float = 0.01                      # application.properties:34
    # >1 = the 10^10-tier lifecycle for either filter: one filter per shard
    # (keyed by host_bucket), added to and deleted from EXECUTOR-side as
    # versioned blob files; the driver holds only the {shard: version}
    # manifest. 1 = single global filter updated driver-side (right below
    # ~10^8 insertions).
    bloom_shards: int = 1
    # scale guard for TTL eviction on a SINGLE (unsharded) cuckoo filter:
    # that mode must materialize the victims' 8-byte hashes driver-side
    # (the filter object lives on the driver), which is fine for the
    # single-filter deployment tier (~10^7 keys, tens of MB) but a
    # driver-OOM vector if someone runs it on a huge frontier.
    # evict_for_recrawl refuses above this many victim rows and points at
    # the sharded store (bloom_shards > 1), whose deletes run
    # executor-side and never ship keys to the driver.
    evict_driver_max_rows: int = 5_000_000
    # fetch mode: "join" = resolve fetches against the web_graph/payloads
    # tables (sandbox + benchmarks); "http" = LIVE GETs + HTML anchor
    # extraction + robots.txt fetching via Arrow-batched thread pools
    # (sources/httpfetch.py — BasicCrawler.java:77-81, 148-172, 203-217).
    fetch_mode: str = "join"
    # test-server remap: https://<host>/<path> -> <base>/<host>/<path>;
    # None fetches the real URL (production)
    http_rewrite_base: str | None = None
    http_pool_per_task: int = 16    # concurrent GETs per Arrow batch
    n_host_buckets: int = 64        # frontier partitioning key fan-out
    # fetch/payload join strategy — the regime decides the right plan:
    #   "broadcast": per-round scheduled set ≪ web graph (the production
    #       10^10-tier regime: politeness bounds the round to ~budget×hosts
    #       rows) — broadcast the scheduled rows into the web_graph scan
    #       (hit/miss union shape, see _fetch) and the round's image_ids
    #       into the payload scan, so neither huge table ever shuffles.
    #   "shuffle": scheduled set is a sizable fraction of the corpus (drain
    #       benchmarks, backfills) — broadcast hash-table builds are serial
    #       and would dominate; shuffle-hash the fetch join and the image_id
    #       semi join instead, which is exactly the plan a cost-based
    #       optimizer picks given real stats.
    fetch_join_strategy: str = "broadcast"

