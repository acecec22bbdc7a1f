"""CrawlEngine — the crawl loop as a sequence of Spark batch jobs.

One crawl round = ONE Spark job (SURVEY.md §3.2 Spark equivalent):

    pending = frontier ANTI-JOIN done                (claim set, F3/J2)
    scheduled = rank window per host under budget    (W1/W4; compat: global ZREVRANGE order)
    gate by robots (broadcast join, native prefix)   (J3/F4/C9)
    fetch = join web_graph, join payloads, decode    (J4/S5/C7, Arrow batches)
    append pages; expand links -> canonicalize ->    (S7/C1/C2/C4/C5)
    first-wins in-round dedup -> seen prefilter ->
    exact seen anti-join -> append frontier          (J1)
    fold attempts into done; metrics; checkpoint     (A8, exact resume)

State lives in SnapshotStore tables (frontier / pages / done / metrics;
pages is the one attempt log, one row per scheduled URL); the driver is
the only committer, so rounds are snapshot-isolated and idempotent:
resume = rollback to the last checkpoint and re-enter the loop
(SURVEY.md §4.2 "exact resume").

Reference semantics preserved (each cited in the operator modules):
enqueue-time first-wins dedup, priority = max(0.1, 1 - parent_depth*0.1),
depth gate `depth < max_depth`, validity regex on extracted links only
(seeds bypass it, CrawlerManager.java:109-120), robots-blocked pages saved
with 403 and marked FAILED (BasicCrawler.java:54-69 -> markFailed), failed
URLs never retried (URLFrontier.java:198-202).

Scale design notes:
- pending/scheduled shuffles on `host` once, and the per-host rank ships
  only <= budget rows per input partition into that exchange (Catalyst's
  InferWindowGroupLimit map-side partial top-k — the skew handling, see
  _schedule); the robots join is broadcast; the fetch join keys on `url`
  (unique per row — host skew cannot reach it) with AQE skew splitting as
  backstop,
- each distinct payload of a round is decoded once, whatever the page
  storage mode (_decode_pages),
- the seen anti-join is prefiltered by a bloom or cuckoo seen set
  (operators/seen.py): at fpp 0.01 ~99% of truly-new candidates skip the
  frontier-sized join entirely (J1 scale path),
- the global `orderBy().limit()` exists ONLY behind reference_compat for
  parity testing; the clean path never globally sorts the frontier,
- all timestamps/sequence numbers are derived from (round, sort keys) —
  no wall clock in data, so reruns and resumes are byte-identical.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions import urls as U
from ..functions.batches import map_rows
from ..functions.robots_fn import gate_by_robots, parse_robots_table
from ..operators import topk
from ..operators import seen as seen_sets
from ..sources import codec
from ..sources.store import SnapshotStore


def _metrics_schema():
    """Arrow schema for the per-round metrics snapshot (A8) — written
    driver-side (Table.append_rows); types mirror the Spark DDL the table
    used historically (int round, long counters, double avg/wall)."""
    import pyarrow as pa

    return pa.schema([
        pa.field("session_id", pa.string()), pa.field("round", pa.int32()),
        pa.field("scheduled", pa.int64()), pa.field("ok", pa.int64()),
        pa.field("failed", pa.int64()), pa.field("robots_blocked", pa.int64()),
        pa.field("bytes_total", pa.int64()), pa.field("avg_depth", pa.float64()),
        pa.field("new_urls", pa.int64()), pa.field("wall_secs", pa.float64()),
    ])


class CrawlEngine:
    def __init__(self, spark: SparkSession, store: SnapshotStore, config: CrawlConfig,
                 web_graph: DataFrame, payloads: DataFrame, robots: DataFrame | None = None):
        self.spark = spark
        self.store = store
        self.cfg = config
        self.web_graph = web_graph
        self.payloads = payloads
        self.robots_rules = (
            parse_robots_table(robots).cache() if (robots is not None and config.respect_robots) else None
        )
        # robots Crawl-delay -> per-host budget caps (tiny per-host table,
        # cached once; the scheduler broadcast-joins it every round)
        self.host_budgets = None
        if robots is not None and config.crawl_delay_budgets:
            from distributed_webcrawler_spark.functions.robots_fn import crawl_delay_budgets

            self.host_budgets = crawl_delay_budgets(
                robots, config.round_window_s,
                config.budget_per_host_per_round).cache()
        seen_sets.validate(config)
        self.seen = None  # the URL-seen prefilter (operators/seen.py); None = exact join only
        self._round_caches: list = []
        self.last_stage_secs: dict[str, float] = {}
        self._pool = None  # lazy persistent pool for the round's side branches

    def _seen_view(self, kind: str, sharded: bool):
        s = self.seen
        if s is None or s.kind != kind or s.sharded != sharded:
            return None
        return s if sharded else s.filter

    # read-only views by kind: the benchmark and the tests inspect the live filter
    bloom = property(lambda self: self._seen_view("bloom", False))
    cuckoo = property(lambda self: self._seen_view("cuckoo", False))
    bloom_shards = property(lambda self: self._seen_view("bloom", True))
    cuckoo_shards = property(lambda self: self._seen_view("cuckoo", True))

    def _branch_pool(self):
        """One persistent 2-thread pool per engine: the round's independent
        job branches (expand->frontier->bloom, attempts->done) run here while
        the pages write runs on the caller thread. Persistent so py4j's
        pinned-thread mode maps each pool thread to ONE reused JVM thread
        (fresh threads per round would leak JVM-side thread objects)."""
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(max_workers=2,
                                            thread_name_prefix="dws-round-branch")
        return self._pool

    # ------------------------------------------------------------- helpers
    def _desc(self, desc: str) -> None:
        """Tag this (python) thread's Spark jobs with a round-phase label —
        purely observational (event log / UI); PYSPARK_PIN_THREAD maps each
        python thread to its own JVM thread, so branch threads keep
        independent labels."""
        try:
            self.spark.sparkContext.setJobDescription(desc)
        except Exception:
            pass

    def _t(self, name: str):
        return self.store.table(name)

    def _discovered_at(self, round_col):
        return F.timestamp_seconds(round_col.cast("long") * 60)

    def _frontier_row_cols(self):
        return ["session_id", "url", "url_hash", "host", "host_bucket", "depth",
                "priority", "parent_url", "discovered_round", "discovered_at"]

    def _seed_rows(self, keys: DataFrame, rnd: int) -> DataFrame:
        """Seed-shaped frontier rows (depth 0, priority 1.0, no parent)
        discovered at round ``rnd`` for (session_id, url) keys: injected
        seeds and recrawl re-injections share this shape."""
        host = U.url_host(F.col("url"))
        return keys.select(
            "session_id", "url",
            U.url_hash(F.col("url")).alias("url_hash"),
            host.alias("host"),
            U.host_bucket(host, self.cfg.n_host_buckets).alias("host_bucket"),
            F.lit(0).alias("depth"),
            F.lit(1.0).alias("priority"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(rnd).alias("discovered_round"),
            self._discovered_at(F.lit(rnd)).alias("discovered_at"))

    # ------------------------------------------------------------ session
    def start_session(self, seeds: DataFrame, session_id: str | None = None) -> None:
        """Seed injection (S1/S2): depth 0, priority 1.0, round 0. Seeds
        bypass the validity regex (the reference only validates extracted
        links, CrawlerManager.java:109-120); first-wins dedup by seed order.
        May be called repeatedly with different session ids — rounds then
        schedule all sessions under the W2 quota."""
        cfg = self.cfg
        session_id = session_id or cfg.session_id
        s = seeds.select("url", "seq")
        if not cfg.reference_compat:
            s = s.withColumn("url", U.canonicalize_urls(keep_fragment=False)(F.col("url")))
        s = s.groupBy("url").agg(F.min("seq").alias("seq"))  # first seed wins
        rows = self._seed_rows(s.select(F.lit(session_id).alias("session_id"), "url"), 0)
        # append first: a seen set that exists folds only the new seeds, and
        # one built now folds them with the rest of the frontier
        self._append_frontier(rows)
        self._set_session_status(session_id, "RUNNING")
        if cfg.use_bloom and self.seen is None:
            self._rebuild_seen()
        self._checkpoint(0)

    def _rebuild_seen(self) -> None:
        """Create the configured seen set and fold the whole frontier in."""
        self.seen = seen_sets.create(self.cfg, self.store.warehouse)
        fr = self._t("frontier").read(self.spark)
        if fr is not None:
            self.seen.add_frame(fr)

    def _append_frontier(self, rows: DataFrame) -> int:
        """Append frontier rows (no empty snapshot; the append doubles as
        the rows' count from parquet footer metadata) and fold them in."""
        fsnap, n = self._t("frontier").append_counted(rows, skip_empty=True)
        self._fold_new(fsnap, n)
        return n

    def _fold_new(self, fsnap: int, n: int) -> None:
        """Fold ONLY the just-appended frontier snapshot into the seen set:
        cuckoo inserts are NOT idempotent, and re-folding the full frontier
        would store duplicate fingerprints, breaking evict_for_recrawl's
        one-copy-per-frontier-row accounting. Driver filters read the
        snapshot's hash column locally (no Spark job), shards fold it
        executor-side."""
        if n > 0 and self.seen is not None:
            self.seen.add_snapshot(self._t("frontier"), fsnap)

    # ------------------------------------------------------------- views
    def pending(self) -> DataFrame:
        """PENDING = discovered but not finished. Keys are (session_id, url):
        the reference scopes every frontier/seen structure per session
        (URLFrontier.java:44-54).

        Finished keys live in the COMPACTED append-only `done` table, folded
        in once per round (see _finalize_round) — so this view is a single
        anti-join, NOT a re-aggregation of the attempt log (pages): the log
        grows with crawl age, and re-grouping it made round cost grow with
        history. A URL is finished when it COMPLETED, failed permanently, or
        exhausted ``max_retries`` transient (status 0) attempts; with the
        default max_retries=0 every attempt is final — the reference's
        no-retry behavior (URLFrontier.java:198-202).

        Sessions whose latest control status is PAUSED or STOPPED are
        excluded from scheduling (CrawlerManager.java:128-137)."""
        fr = self._t("frontier").read(self.spark)
        inactive = self._inactive_sessions()
        if inactive:
            fr = fr.where(~F.col("session_id").isin(sorted(inactive)))
        done = self._t("done").read(self.spark)
        if done is None:
            return fr
        # shuffle-hash like the seen anti-join: done grows with the crawl;
        # auto-broadcast would eventually stall the driver
        return fr.join(done.hint("shuffle_hash"), ["session_id", "url"], "left_anti")

    def _finalize_round(self, attempts: DataFrame, rnd: int = 0) -> None:
        """Fold this round's finished (session_id, url) keys into the
        compacted `done` table. ``attempts`` holds one (session_id, url,
        retryable) row per scheduled URL, projected off the round's cached
        frames. Retry bookkeeping (max_retries > 0) keeps a small
        `retry_log` of still-retryable keys; with the default
        max_retries=0 every attempt finalizes immediately."""
        cfg = self.cfg
        if cfg.max_retries <= 0:
            done_new = attempts.select("session_id", "url")
        else:
            final_now = attempts.where(~F.col("retryable")).select("session_id", "url")
            retry = attempts.where(F.col("retryable")).select("session_id", "url")
            rl = self._t("retry_log").read(self.spark)
            if rl is not None:
                prior = rl.groupBy("session_id", "url").agg(F.max("attempts").alias("prior"))
                retry = (retry.join(prior, ["session_id", "url"], "left")
                         .withColumn("attempts", F.coalesce(F.col("prior"), F.lit(0)) + 1)
                         .drop("prior"))
            else:
                retry = retry.withColumn("attempts", F.lit(1))
            retry = retry.cache()
            self._round_caches.append(retry)
            exhausted = (retry.where(F.col("attempts") > cfg.max_retries)
                         .select("session_id", "url"))
            self._t("retry_log").append_counted(
                retry.where(F.col("attempts") <= cfg.max_retries)
                     .select("session_id", "url", "attempts",
                             F.lit(rnd).cast("int").alias("fail_round")),
                skip_empty=True)
            done_new = final_now.unionByName(exhausted)
        self._t("done").append_counted(done_new, skip_empty=True)

    # --------------------------------------------------- session control
    def _session_control_schema(self):
        import pyarrow as pa

        return pa.schema([
            pa.field("session_id", pa.string()), pa.field("status", pa.string()),
            pa.field("seq", pa.int64()),
        ])

    def _set_session_status(self, session_id: str, status: str) -> None:
        tbl = self._t("sessions")
        seq = tbl.total_rows() or 0
        tbl.append_rows([{"session_id": session_id, "status": status, "seq": seq}],
                        self._session_control_schema())

    def stop_session(self, session_id: str | None = None) -> None:
        """Mark the session STOPPED (CrawlerManager.java:128-137): it is
        excluded from scheduling at the NEXT round boundary — the round in
        flight (if any) commits normally, matching the reference where
        in-flight jobs finish but no new work is claimed."""
        self._set_session_status(session_id or self.cfg.session_id, "STOPPED")

    def pause_session(self, session_id: str | None = None) -> None:
        """Exclude the session from scheduling until resume_session."""
        self._set_session_status(session_id or self.cfg.session_id, "PAUSED")

    def resume_session(self, session_id: str | None = None) -> None:
        """Re-activate a PAUSED (or STOPPED) session."""
        self._set_session_status(session_id or self.cfg.session_id, "RUNNING")

    def _inactive_sessions(self) -> set[str]:
        """Latest-wins control state per session, read driver-side (the
        control table is a handful of rows — no Spark job)."""
        t = self._t("sessions").read_local(["session_id", "status", "seq"])
        latest: dict[str, tuple[int, str]] = {}
        for sid, st, seq in zip(t["session_id"].to_pylist(),
                                t["status"].to_pylist(), t["seq"].to_pylist()):
            if sid not in latest or seq >= latest[sid][0]:
                latest[sid] = (seq, st)
        return {sid for sid, (_, st) in latest.items() if st in ("PAUSED", "STOPPED")}

    # ------------------------------------------------------------- rounds
    def _host_window_stats(self, rnd: int) -> DataFrame | None:
        """Per-host attempts ``a`` and failures ``f`` summed over the last
        cb_window_rounds of host_stats — the sliding window both the circuit
        breaker and the adaptive budgets read. host_stats is one row per
        (round, host): tiny (host cardinality × window), so this agg and
        its consumers' broadcasts are bounded regardless of corpus size."""
        hs = self._t("host_stats").read(self.spark)
        if hs is None:
            return None
        return (hs.where(F.col("round") >= rnd - self.cfg.cb_window_rounds)
                .groupBy("host").agg(F.sum("attempts").alias("a"),
                                     F.sum("failures").alias("f")))

    def _tripped(self) -> Column:
        """The circuit breaker's condition over a window-stats row: enough
        recent attempts, and a failure rate strictly above the bound."""
        cfg = self.cfg
        return ((F.col("a") >= cfg.cb_min_attempts)
                & (F.col("f") / F.col("a") > cfg.cb_max_fail_rate))

    def _host_caps(self, rnd: int) -> DataFrame | None:
        """The round's per-host budget caps: one (host, budget) row per
        capped host, or None when nothing caps any host. A tripped host
        gets cap 0 (the rank filter drops its rows until the window slides
        past its bad rounds); otherwise the adaptive budget is
        max(adaptive_min_budget, ceil(B * success_rate_h)). Both read the
        one host_stats window and need cb_min_attempts attempts there (no
        evidence, no cap). Crawl-delay caps merge by the smaller cap per
        host. One row per host, so the scheduler broadcasts the frame."""
        cfg = self.cfg
        caps = None
        if cfg.circuit_breaker or cfg.adaptive_budget:
            agg = self._host_window_stats(rnd)
            if agg is not None:
                adaptive = (F.greatest(
                    F.lit(cfg.adaptive_min_budget),
                    F.ceil(F.lit(cfg.budget_per_host_per_round)
                           * (F.col("a") - F.col("f")) / F.col("a")))
                    if cfg.adaptive_budget else F.lit(None))
                budget = (F.when(self._tripped(), 0).otherwise(adaptive)
                          if cfg.circuit_breaker else adaptive)
                caps = (agg.where(F.col("a") >= cfg.cb_min_attempts)
                        .select("host", budget.cast("int").alias("budget"))
                        .where(F.col("budget").isNotNull()))
        if self.host_budgets is not None:
            caps = (self.host_budgets if caps is None
                    else (caps.unionByName(self.host_budgets)
                          .groupBy("host").agg(F.min("budget").alias("budget"))))
        return caps

    def _retry_waiting(self, rnd: int) -> DataFrame | None:
        """(session_id, url) keys inside their retry backoff hold at round
        ``rnd``, or None without retry backoff or retry_log rows. Attempt
        k failed in round r is eligible again at r + 2^(k-1); the latest
        attempt row per key carries the max fail_round too (both are
        monotone per key). The retry_log only holds still-retryable keys,
        so this frame is small, but it grows with failure volume."""
        cfg = self.cfg
        if not (cfg.max_retries > 0 and cfg.retry_backoff):
            return None
        rl = self._t("retry_log").read(self.spark)
        if rl is None:
            return None
        latest = (rl.groupBy("session_id", "url")
                  .agg(F.max("attempts").alias("attempts"),
                       F.max("fail_round").alias("fail_round")))
        return (latest.where(F.expr("fail_round + shiftleft(1, attempts - 1)") > rnd)
                .select("session_id", "url"))

    def _held(self, rnd: int) -> bool:
        """Whether an empty round ``rnd`` only HOLDS work back rather than
        ending the crawl: a host the breaker has tripped (its URLs re-enter
        once the window slides) or a retry inside its backoff hold (it
        re-enters when its round arrives). Asked only after a round
        scheduled nothing; existence probes, never full counts."""
        cfg = self.cfg
        probes = [self._retry_waiting(rnd)]
        if cfg.circuit_breaker and not cfg.reference_compat:
            agg = self._host_window_stats(rnd)
            probes.append(agg.where(self._tripped()) if agg is not None else None)
        return any(df.limit(1).count() > 0 for df in probes if df is not None)

    def _schedule(self, pending: DataFrame, rnd: int) -> tuple[DataFrame, int]:
        cfg = self.cfg
        order = topk.tie_break_cols()
        waiting = self._retry_waiting(rnd)
        if waiting is not None:
            # same shuffle_hash pin as the `done` anti-join (no driver
            # collect, no auto-broadcast stall)
            pending = pending.join(waiting.hint("shuffle_hash"),
                                   ["session_id", "url"], "left_anti")
        if cfg.reference_compat:
            # W2 round-robin across sessions: quota = batchSize / numSessions
            # per session queue (URLFrontier.java:92-110; floor division like
            # the reference, guarded to 1 so many sessions can't deadlock).
            n_sessions = pending.select("session_id").distinct().count()
            quota = max(cfg.batch_size // max(n_sessions, 1), 1)
            sched = topk.topk_per_group(pending, ["session_id"], order, quota).drop("rk")
        else:
            caps = self._host_caps(rnd)
            if caps is not None:
                # per-host caps: variable k, no constant-fold shortcut (a
                # cap may be below any row bound). The literal
                # WindowGroupLimit bound comes from the config: no cap
                # exceeds B except the adaptive floor (a tripped host's cap
                # is 0, a Crawl-delay cap is min(B, ...)).
                max_b = cfg.budget_per_host_per_round
                if cfg.adaptive_budget:
                    max_b = max(max_b, cfg.adaptive_min_budget)
                sched = topk.topk_per_group_budget(
                    pending, ["session_id", "host"], order, caps,
                    "host", cfg.budget_per_host_per_round, max_budget=max_b,
                ).drop("rk")
            elif ((frontier_rows := self._t("frontier").total_rows()) is not None
                  and cfg.budget_per_host_per_round >= frontier_rows):
                # constant-fold identity windows: the frontier manifest's row
                # count (metadata, no job) upper-bounds every per-host pending
                # count, so budget >= that bound means the rank filter keeps
                # every row — skip BOTH window shuffles (drain/backfill regime)
                sched = pending
            else:
                # Skew handling is Catalyst's InferWindowGroupLimit: the
                # LITERAL rank bound becomes a map-side partial top-k per host
                # BEFORE the exchange, so a Zipf-hot host ships <= k rows per
                # input partition instead of its whole pending set.
                sched = topk.topk_per_group(
                    pending, ["session_id", "host"], order,
                    cfg.budget_per_host_per_round).drop("rk")
            if cfg.max_pages is not None:
                # one pages row per attempt, robots-blocked rows included ->
                # the manifest's footer-based row total IS the attempted
                # count (no per-round count() job)
                attempted = self._t("pages").total_rows()
                if attempted is None:  # legacy manifest without row stats
                    pg = self._t("pages").read(self.spark)
                    attempted = pg.count() if pg is not None else 0
                remaining = max(cfg.max_pages - attempted, 0)
                sched = topk.global_topk(sched, order, remaining)
        # cache the ranked survivors: global_row_number's range partitioner
        # SAMPLES its input to pick bounds, and without this cache that
        # sampling job re-runs the whole anti-join + double-window pipeline
        # a second time (measured as a full extra pass over pending)
        sched = sched.cache()
        self._round_caches.append(sched)
        # deterministic global in-round sequence — computed scalably (range
        # partition + local rank + offsets), NEVER a single-partition window.
        # Its per-partition counts job doubles as the round's scheduled
        # count, so run_round never pays a separate count() action.
        meta: dict = {}
        sched = topk.global_row_number(sched, order, seq_col="sched_seq",
                                       cache_registry=self._round_caches,
                                       meta_out=meta)
        return sched.withColumn("round", F.lit(rnd)), meta["total"]

    def _gate_robots(self, sched: DataFrame, rnd: int = 0) -> DataFrame:
        cfg = self.cfg
        if cfg.respect_robots and cfg.fetch_mode == "http" and self.robots_rules is None:
            return self._gate_robots_http(sched, rnd)
        if self.robots_rules is None:
            return sched.withColumn("robots_allowed", F.lit(True))
        return gate_by_robots(sched, self.robots_rules, U.url_path(F.col("url")))

    def _gate_robots_http(self, sched: DataFrame, rnd: int = 0) -> DataFrame:
        """Live robots (S6, BasicCrawler.java:203-217): fetch robots.txt for
        hosts not yet known — a mapInPandas over the round's DISTINCT hosts
        (dimension-sized, never the frontier), 5s timeout, any error ->
        allow-all THIS round. Parsed (allow, disallow) rules persist in the
        `robots_http` store table with an `ok` flag and `fetched_round`:
        definitive answers (200 or 4xx-no-file) are final, but TRANSIENT
        failures (timeout/refused/5xx) become refetch-eligible again after
        ``cfg.robots_error_ttl_rounds`` rounds — a one-time 5s network blip
        must not freeze a host as allow-all for the warehouse's lifetime.
        Across-round caching is durable table state, not an unbounded
        driver dict: at 10^8 hosts the driver holds NOTHING — unknown
        hosts come from an anti-join of the round's host dimension against
        the per-host LATEST row (computed only over the round's hosts, so
        the window is dimension-sized), and the gate joins the table's
        rules SEMI-JOINED down to this round's hosts broadcast-side, the
        same plan as table mode. The reference caches per-worker in memory
        (BasicCrawler.java:41, 189-195); a table is that cache made
        shared, bounded, and checkpoint/resume-consistent."""
        from pyspark.sql import Window

        from ..functions.robots_fn import parse_robots
        from ..sources.httpfetch import fetch_robots_fn

        tbl = self._t("robots_http")
        round_hosts = sched.select("host").distinct()

        def _latest(known: DataFrame) -> DataFrame:
            # latest row per host, restricted to this round's hosts FIRST
            # so the window ranks a dimension-sized slice, never the table
            k = known.join(F.broadcast(round_hosts), "host", "left_semi")
            w = Window.partitionBy("host").orderBy(F.desc("fetched_round"))
            return (k.withColumn("__rn", F.row_number().over(w))
                     .where(F.col("__rn") == 1).drop("__rn"))

        known = tbl.read(self.spark)
        latest = None if known is None else _latest(known)
        if latest is None:
            unknown = round_hosts
        else:
            # a host is settled if its latest answer is definitive, or its
            # latest transient failure is still within the retry TTL
            settled = latest.where(
                F.col("ok") |
                (F.lit(rnd) - F.col("fetched_round")
                 < F.lit(self.cfg.robots_error_ttl_rounds)))
            unknown = round_hosts.join(settled.select("host"), "host", "left_anti")
        fetched = unknown.mapInPandas(
            fetch_robots_fn(self.cfg.http_rewrite_base),
            "host string, robots_txt string, ok boolean").collect()
        if fetched:
            import pyarrow as pa

            parsed = [{"host": r.host, "ok": bool(r.ok),
                       "fetched_round": int(rnd),
                       **dict(zip(("allow", "disallow"),
                                  parse_robots(r.robots_txt)))}
                      for r in fetched]
            tbl.append_rows(parsed, pa.schema([
                pa.field("host", pa.string()),
                pa.field("ok", pa.bool_()),
                pa.field("fetched_round", pa.int64()),
                pa.field("allow", pa.list_(pa.string())),
                pa.field("disallow", pa.list_(pa.string()))]))
            latest = _latest(tbl.read(self.spark))
        rules_df = (latest.where((F.size("allow") > 0) | (F.size("disallow") > 0))
                    if latest is not None else
                    self.spark.createDataFrame(
                        [], "host string, allow array<string>, disallow array<string>"))
        return gate_by_robots(sched, rules_df.select("host", "allow", "disallow"),
                              U.url_path(F.col("url")))

    def _fetch(self, allowed: DataFrame) -> DataFrame:
        """J4: the fetch equi-join against web_graph, SLIM (no payload bytes).

        Plan shape, chosen to minimize memory traffic (which is also what
        minimizes shuffle on a real cluster): the per-round scheduled set is
        bounded by the politeness budget, so it is BROADCAST into the
        web_graph scan and the 10^10-row web_graph side never shuffles.

        Spark cannot broadcast the PRESERVED side of an outer join (a
        `wg.join(broadcast(sched), "url", "right")` silently degrades to a
        SortMergeJoin that shuffles the whole web graph — verified on the
        physical plan), so outer semantics are built from two
        broadcast-friendly pieces:

            hit  = wg INNER JOIN broadcast(sched)        -- BHJ BuildRight, wg stationary
            miss = sched ANTI JOIN broadcast(hit.url)    -- small x small
            fetched = hit UNION ALL miss(null web cols)  -- every sched row survives

        The second reference to `hit` only projects `url`, so its recompute
        is a column-pruned scan (no out_links, no bytes).

        Skew note: the join key is ``url`` (unique per row), so a hot host
        cannot skew it; host-level skew lives in the scheduling window,
        where Catalyst's InferWindowGroupLimit ships <= budget rows per host
        and input partition into the exchange (see _schedule). AQE
        skew-join stays on as the backstop.
        """
        if self.cfg.fetch_mode == "http":
            return self._fetch_http(allowed)
        wg = self.web_graph.select(
            F.col("url"), F.col("out_links"), F.col("image_id"),
            F.col("status_code").alias("web_status"))
        if self.cfg.fetch_join_strategy == "shuffle":
            # drain-benchmark regime: sched is frontier-sized, so a serial
            # broadcast build would dominate — one shuffled outer join
            # (hash-partitioned on url, scales with cores/executors)
            return allowed.join(wg.hint("shuffle_hash"), "url", "left")
        hit = wg.join(F.broadcast(allowed), "url")
        miss = (
            allowed.join(F.broadcast(hit.select("url")), "url", "left_anti")
            .withColumn("out_links", F.lit(None).cast("array<string>"))
            .withColumn("image_id", F.lit(None).cast("string"))
            .withColumn("web_status", F.lit(None).cast("int"))
        )
        return hit.unionByName(miss)

    def _fetch_http(self, allowed: DataFrame) -> DataFrame:
        """S5 live mode (BasicCrawler.java:77-81): concurrent GETs inside
        Arrow batches (thread pool per task — sources/httpfetch.py), HTML
        anchor extraction in the worker. Emits the SAME columns as the join
        fetch (web_status, out_links, image_id), so everything downstream —
        decode, expand, done — is identical between modes; page bytes
        never leave the worker (only hrefs + the image reference do)."""
        from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

        from ..sources.httpfetch import http_fetch_fn

        schema = StructType(list(allowed.schema.fields) + [
            StructField("web_status", IntegerType()),
            StructField("out_links", ArrayType(StringType())),
            StructField("image_id", StringType()),
        ])
        return allowed.mapInPandas(
            http_fetch_fn(self.cfg.http_rewrite_base,
                          pool=self.cfg.http_pool_per_task,
                          user_agent=self.cfg.user_agent), schema=schema)

    def _decode_pages(self, fetched: DataFrame) -> DataFrame:
        """S5/C7: decode each DISTINCT payload of the round exactly once,
        then join metadata-width stats back to the scheduled rows.

        Why this is the scale plan: joining the blob to every scheduled row
        BEFORE decode fans each payload's bytes out once per referencing
        URL — join output, Arrow serialization, and worker transfer all
        carry #urls x blob_size. Measured on a 12M-url fixture
        (tools/diag_round.py), that decode stage burned 211 JVM-CPU-s at
        local[16] but 898 at local[32] — pure memory-bus saturation from
        blob memcpy, the single biggest anti-scaling term in the round.
        Here bytes never fan out before decode: the payload table is
        semi-join-pruned to the round's distinct image_ids (ids broadcast —
        bounded by the politeness budget — or shuffle-hash in the drain
        regime), decoded once per distinct image,
        and only (image_id, w, h, phash, caption, fmt, len, err) rows — a
        few hundred bits each — travel to the stats join (AQE broadcasts
        them when small). Row assembly is pure Column exprs: no per-row
        Python anywhere.

        ``store_page_bytes`` only decides whether the blob is copied into
        pages: when set, the decode echoes it once per distinct image as
        ``pblob`` and the stats join copies it into every 200 row that
        references the image; when unset ``pblob`` is always null, so the
        Arrow return traffic does not grow.
        """
        cfg = self.cfg
        store_bytes = cfg.store_page_bytes
        slim = fetched.select(
            "session_id", "round", "sched_seq", "url", "url_hash", "host", "depth",
            "parent_url", "web_status",
            # a failed fetch has no payload (oracle sim nulls it too); nulling
            # BEFORE the stats join makes non-200 rows miss it for free
            F.when(F.col("web_status") == 200, F.col("image_id")).alias("image_id"))
        ids = slim.where(F.col("image_id").isNotNull()).select("image_id").distinct()
        pay = self.payloads.select(
            "image_id", F.col("bytes").alias("pbytes"), "caption", "fmt")
        if cfg.fetch_join_strategy == "shuffle":
            # drain regime: distinct ids can be frontier-sized — shuffle-hash
            # semi join (blobs shuffle ONCE per distinct image, never per URL)
            to_decode = pay.join(ids.hint("shuffle_hash"), "image_id", "left_semi")
        else:
            to_decode = pay.join(F.broadcast(ids), "image_id", "left_semi")

        def _decode_unique(iid, by, cap, fmt):
            blob = bytes(by) if by is not None else None
            dw = dh = ph = None
            derr = None
            if blob is not None:
                try:
                    px, _fmt = codec.decode_image(blob)
                    dh, dw = px.shape[0], px.shape[1]
                    ph = codec.phash64(px)
                except codec.CodecError as e:
                    derr = f"decode error: {e}"
            return [(iid, cap, fmt, len(blob) if blob is not None else None,
                     dw, dh, ph, derr, blob if store_bytes else None)]

        stats = map_rows(to_decode, _decode_unique, (
            "image_id string, pcaption string, pfmt string, plen long, "
            "dw int, dh int, dphash long, derr string, pblob binary"))
        joined = slim.join(stats, "image_id", "left")
        st = F.coalesce(F.col("web_status"), F.lit(0)).cast("int")
        return joined.select(
            F.col("session_id"), F.col("round").cast("int").alias("round"),
            F.col("sched_seq").cast("int").alias("sched_seq"), F.col("url"),
            F.col("url_hash").cast("long").alias("url_hash"), F.col("host"),
            F.col("depth").cast("int").alias("depth"), F.col("parent_url"),
            st.alias("status_code"),
            # status 0 = connection-level failure (BasicCrawler.java:113,129
            # maps interrupt/IO exceptions to 0): one message for known-dead
            # links (join mode) and transport errors (http mode)
            F.when(st == 200, F.col("derr"))
             .otherwise(F.when(st == 0, F.lit("connection failed"))
                        .otherwise(F.concat(F.lit("HTTP "), st.cast("string"))))
             .alias("error_message"),
            F.col("image_id"),
            F.when(st == 200, F.col("pcaption")).alias("caption"),
            F.when(st == 200, F.col("pblob")).alias("bytes"),
            F.when(st == 200, F.col("pfmt")).alias("fmt"),
            F.col("plen").cast("long").alias("content_length"),
            F.col("dw").cast("int").alias("decoded_w"),
            F.col("dh").cast("int").alias("decoded_h"),
            F.col("dphash").cast("long").alias("phash"),
            F.lit(0).cast("long").alias("crawl_duration_ms"),
            F.spark_partition_id().alias("partition_id"),
        )

    def _expand(self, fetched: DataFrame, rnd: int) -> DataFrame:
        """C1/C2/C4/C5 + J1: explode out_links of ok-pages under the depth
        gate, resolve+canonicalize, validity-filter, first-wins in-round
        dedup, seen-prefiltered exact seen anti-join. In clean mode with a
        driver seen set no step runs in Python except the resolve residue
        (links no native tier handles), coalesced behind an exchange."""
        cfg = self.cfg
        parents = fetched.where(
            (F.col("web_status") == 200) & (F.col("depth") < cfg.max_depth)
            & F.col("out_links").isNotNull())
        links = parents.select(
            "session_id", F.col("url").alias("parent_url"), "depth", "sched_seq",
            F.posexplode(F.col("out_links")).alias("link_idx", "href"))
        resolved = U.resolve_links(links, "parent_url", "href", "child_url", cfg.reference_compat)
        valid = resolved.where(U.is_valid_url(F.col("child_url")))
        if cfg.allowed_domains and not cfg.reference_compat:
            valid = valid.where(U.url_host(F.col("child_url")).isin(cfg.allowed_domains))
        for pref in (cfg.disallowed_url_prefixes if not cfg.reference_compat else []):
            valid = valid.where(~F.col("child_url").startswith(pref))
        # first discovery wins inside the round: min by (scheduled position,
        # link position) — the reference's sequential enqueue order. Expressed
        # as min(struct(...)) so Catalyst runs a partial aggregate MAP-SIDE
        # (a window would shuffle every candidate row before deduping).
        cand = (
            valid.groupBy("session_id", "child_url")
            .agg(F.min(F.struct("sched_seq", "link_idx", "depth", "parent_url")).alias("w"))
            .select("session_id", "child_url",
                    F.col("w.depth").alias("depth"), F.col("w.parent_url").alias("parent_url"))
        )
        cand = cand.select(
            "session_id",
            F.col("child_url").alias("url"),
            U.url_hash(F.col("child_url")).alias("url_hash"),
            U.url_host(F.col("child_url")).alias("host"),
            U.host_bucket(U.url_host(F.col("child_url")), cfg.n_host_buckets).alias("host_bucket"),
            (F.col("depth") + 1).alias("depth"),
            U.child_priority(F.col("depth")).alias("priority"),
            "parent_url",
            F.lit(rnd).alias("discovered_round"),
            self._discovered_at(F.lit(rnd)).alias("discovered_at"),
        )
        # seen-set is per (session_id, url) — reference keys every structure
        # by session (URLFrontier.java:44-54). The filter hashes the url alone:
        # a cross-session hit just routes through the exact anti-join.
        # shuffle-hash, never broadcast: the seen/frontier side GROWS every
        # round (10^10 rows at the target tier) — auto-broadcast would stall
        # the driver building a frontier-sized hash table once it crosses
        # the threshold anyway, so pin the scalable plan now
        seen_keys = (self._t("frontier").read(self.spark)
                     .select("session_id", "url").hint("shuffle_hash"))
        if self.seen is not None:
            tagged = self.seen.with_maybe_seen(cand, "__maybe_seen").cache()
            self._round_caches.append(tagged)  # unpersisted at end of round
            definitely_new = tagged.where(~F.col("__maybe_seen")).drop("__maybe_seen")
            needs_check = tagged.where(F.col("__maybe_seen")).drop("__maybe_seen")
            new_rows = definitely_new.unionByName(
                needs_check.join(seen_keys, ["session_id", "url"], "left_anti"))
        else:
            new_rows = cand.join(seen_keys, ["session_id", "url"], "left_anti")
        return new_rows

    def run_round(self, rnd: int) -> dict:
        t0 = time.monotonic()
        # driver-side wall per blocking stage of the round; purely
        # observational (exposed as self.last_stage_secs + stats["stage_secs"],
        # NOT part of the metrics table schema)
        stages: dict[str, float] = {}
        _last = [t0]

        def mark(name: str) -> None:
            now = time.monotonic()
            stages[name] = round(now - _last[0], 3)
            _last[0] = now

        cfg = self.cfg
        self._desc(f"dws r{rnd}: schedule")
        sched, n_sched = self._schedule(self.pending(), rnd)
        mark("schedule")
        if n_sched == 0:
            self._clear_round_caches()
            self.last_stage_secs = stages
            return {"round": rnd, "scheduled": 0}
        # cache the GATED frame: the fetch, the blocked pages and the
        # done branch all filter this one frame, so the robots rules
        # are joined and evaluated once per round, not once per consumer
        gated = self._gate_robots(sched, rnd).cache()
        self._round_caches.append(gated)
        blocked = gated.where(~F.col("robots_allowed"))
        allowed = gated.where(F.col("robots_allowed")).drop("robots_allowed")

        fetched = self._fetch(allowed).cache()   # slim: no payload bytes
        self._round_caches.append(fetched)
        pages = self._decode_pages(fetched)
        blocked_pages = blocked.select(
            "session_id", "round", "sched_seq", "url", "url_hash", "host", "depth", "parent_url",
            F.lit(403).alias("status_code"), F.lit("Blocked by robots.txt").alias("error_message"),
            F.lit(None).cast("string").alias("image_id"), F.lit(None).cast("string").alias("caption"),
            F.lit(None).cast("binary").alias("bytes"), F.lit(None).cast("string").alias("fmt"),
            F.lit(None).cast("long").alias("content_length"), F.lit(None).cast("int").alias("decoded_w"),
            F.lit(None).cast("int").alias("decoded_h"), F.lit(None).cast("long").alias("phash"),
            F.lit(0).cast("long").alias("crawl_duration_ms"), F.lit(-1).alias("partition_id"),
        )
        # the round's stats ride the pages WRITE job as observed metrics
        # (CollectMetrics in the same plan) — the former separate agg job
        # re-read the committed snapshot for numbers this job already saw
        from pyspark.sql import Observation

        obs = Observation()  # auto-named: names must be unique per session
        pages_all = pages.unionByName(blocked_pages).observe(
            obs,
            F.count(F.lit(1)).alias("scheduled"),
            F.sum(F.when(F.col("status_code") == 200, 1).otherwise(0)).alias("ok"),
            F.sum(F.when((F.col("status_code") != 200) & (F.col("status_code") != 403), 1).otherwise(0)).alias("failed"),
            F.sum(F.when(F.col("status_code") == 403, 1).otherwise(0)).alias("robots_blocked"),
            F.sum(F.coalesce(F.col("content_length"), F.lit(0))).alias("bytes_total"),
            F.avg("depth").alias("avg_depth"))
        # ---- three independent job branches, overlapped ------------------
        # The pages write, the expand->frontier->bloom chain, and the
        # attempts->done chain touch DISJOINT store tables and all hang off
        # the same cached `fetched`; serialized they leave the executor pool
        # idle through every stage tail and driver commit. Spark's per-block
        # loading locks make the concurrent first touch of the `fetched` /
        # `gated` caches compute each partition exactly once, and local[N]
        # caps concurrent tasks at N, so overlap never oversubscribes the
        # pinned cores — it only fills slots another branch left idle.
        # Snapshot ids, table contents, and checkpoint payloads are
        # byte-identical to the serial order (per-table manifests).
        def _branch_expand() -> int:
            self._desc(f"dws r{rnd}: expand+frontier+bloom")
            new_rows = self._expand(fetched, rnd)
            fsnap, n_new = self._t("frontier").append_counted(
                new_rows.select(*self._frontier_row_cols()), skip_empty=True)
            mark_at("expand_frontier")
            self._fold_new(fsnap, n_new)
            mark_at("bloom_update")
            return n_new

        def _branch_done() -> None:
            # label and stage key kept: crawlbench/eventlog.py reads both
            self._desc(f"dws r{rnd}: progress+done")
            # every scheduled URL yields exactly one pages row with
            # status_code = web_status (0 sentinel when the fetch missed), so
            # the attempts project straight off the cached slim fetch result;
            # failures are never retried (URLFrontier.java:198-202) except
            # connection-level ones (sentinel 0), which are retryable
            attempts = fetched.select(
                "session_id", "url",
                (F.coalesce(F.col("web_status"), F.lit(0)) == 0).alias("retryable"),
            ).unionByName(blocked.select(
                "session_id", "url", F.lit(False).alias("retryable")))
            if cfg.circuit_breaker or cfg.adaptive_budget:
                # one row per (round, host) off the cached slim fetch —
                # feeds _host_caps / _held in later rounds;
                # robots-blocked rows never reach fetched so they can't
                # trip or throttle a host
                hstats = (fetched.groupBy("host").agg(
                    F.count("*").cast("int").alias("attempts"),
                    F.sum(F.when(F.coalesce(F.col("web_status"), F.lit(0)) != 200, 1)
                           .otherwise(0)).cast("int").alias("failures"))
                    .withColumn("round", F.lit(rnd).cast("int")))
                self._t("host_stats").append(hstats)
            self._finalize_round(attempts, rnd)
            mark_at("progress_done")

        def mark_at(name: str) -> None:
            # branch-local stage walls, measured from round start (branches
            # overlap, so deltas against a shared cursor would be noise)
            stages[name] = round(time.monotonic() - t0, 3)

        pool = self._branch_pool()
        fut_expand = pool.submit(_branch_expand)
        fut_done = pool.submit(_branch_done)
        self._desc(f"dws r{rnd}: fetch+decode+pages_write")
        self._t("pages").append(pages_all)
        stats_row = obs.get
        mark_at("pages_write")
        n_new = fut_expand.result()
        fut_done.result()
        mark("round_branches")

        self._desc(f"dws r{rnd}: metrics+checkpoint")
        wall = time.monotonic() - t0
        stats = {"session_id": cfg.session_id, "round": rnd,
                 **{k: (int(v) if k != "avg_depth" else float(v)) for k, v in stats_row.items()},
                 "new_urls": int(n_new), "wall_secs": float(wall)}
        self._t("metrics").append_rows([stats], _metrics_schema())
        self._checkpoint(rnd)
        self._clear_round_caches()
        mark("checkpoint")
        self.last_stage_secs = stages
        return {**stats, "stage_secs": stages}

    def _clear_round_caches(self) -> None:
        for c in self._round_caches:
            c.unpersist()
        self._round_caches.clear()

    def run(self, seeds: DataFrame | None = None) -> list[dict]:
        if seeds is not None:
            self.start_session(seeds)
        start_round = (self.store.latest_checkpoint() or {"round": 0})["round"] + 1
        history = []
        # max_rounds is an ABSOLUTE round cap (not "rounds from here") so a
        # resumed run and an uninterrupted run stop at the same boundary.
        for rnd in range(start_round, self.cfg.max_rounds + 1):
            stats = self.run_round(rnd)
            if stats.get("scheduled", 0) == 0:
                if not self._held(rnd):
                    break
            else:
                history.append(stats)
        return history

    # --------------------------------------------------------- checkpoints
    def _checkpoint(self, rnd: int) -> None:
        tables = {n: self._t(n).snapshot_id()
                  for n in ("frontier", "pages", "metrics", "done", "retry_log",
                            "sessions", "host_stats", "robots_http")}
        ckpt = {"round": rnd, "tables": tables}
        if self.seen is not None:
            ckpt.update(self.seen.checkpoint(self.store.warehouse, rnd))
        self.store.write_checkpoint(ckpt)
        if self.seen is not None:
            # resume reads only the latest checkpoint; keep one more as margin
            self.seen.prune(self.store.warehouse, self.store.read_checkpoints()[-2:])

    def resume(self) -> list[dict]:
        """Exact resume: roll every table back to the last durable checkpoint
        (discarding any torn round), reload the seen set, re-enter the loop.
        The resumed run's tables are byte-identical to an uninterrupted one
        (asserted in tests/test_resume.py)."""
        ckpt = self.store.latest_checkpoint()
        if ckpt is None:
            raise RuntimeError("no checkpoint to resume from")
        self.store.rollback_to_checkpoint(ckpt)
        if self.cfg.use_bloom:
            self.seen = seen_sets.from_checkpoint(ckpt, self.cfg, self.store.warehouse)
            if self.seen is None:
                # a checkpoint written without a seen set: build it over the frontier
                self._rebuild_seen()
        return self.run()

    # ----------------------------------------------------- recrawl eviction
    def evict_for_recrawl(self, urls: DataFrame | None = None,
                          ttl_rounds: int | None = None,
                          allow_stale_filter: bool = False) -> dict:
        """FORGET (session_id, url) keys from every seen structure so that
        a later link rediscovering them re-enters the frontier as a fresh
        fetch — recrawl-on-rediscovery, the scheduling side of Cho &
        Garcia-Molina's freshness model (q_recrawl_lambda computes WHICH
        ages are due; this is the operator that makes acting on it
        possible). Keys come either from ``urls`` (session_id, url) or,
        with ``ttl_rounds``, every URL whose LAST fetch is at least that
        many rounds old.

        Mechanics: copy-on-write rewrite of `frontier` and `done`
        (Table.overwrite_compacted — on real Iceberg, a positional
        DELETE), a fingerprint delete from the cuckoo filter, and a fresh
        checkpoint (pre-rewrite checkpoints reference dead snapshot ids).

        seen_filter="cuckoo" is REQUIRED: a bloom cannot remove the dead
        fingerprints, so under perpetual TTL recrawl its fpp only ratchets
        toward 1 and the prefilter collapses (every candidate routes
        through the exact anti-join). ``allow_stale_filter=True``
        acknowledges that degradation explicitly — results stay correct
        (prefilter-only contract) but the filter keeps counting ghosts —
        for one-off evictions on a bloom deployment."""
        last_rnd = (self.store.latest_checkpoint() or {"round": 0})["round"]
        if urls is None:
            if ttl_rounds is None:
                raise ValueError("pass urls or ttl_rounds")
            pg = self._t("pages").read(self.spark)
            if pg is None:
                return {"evicted": 0, "round": last_rnd}
            urls = (pg.groupBy("session_id", "url")
                    .agg(F.max("round").alias("last_round"))
                    .where(F.col("last_round") <= F.lit(last_rnd - ttl_rounds))
                    .select("session_id", "url"))
        evict = urls.select("session_id", "url").distinct().cache()
        fr_t, done_t = self._t("frontier"), self._t("done")
        fr = fr_t.read(self.spark)
        # one fingerprint per evicted FRONTIER ROW (not distinct): the
        # filter holds one copy per inserted row, cross-session included
        victim_rows = fr.join(evict, ["session_id", "url"], "left_semi").cache()
        try:
            n_evicted = int(victim_rows.count())
            if self.seen is not None:
                # driver-row guard, then the filter delete — BEFORE the
                # compaction: the sharded delete reads victim rows from the
                # frontier files the compaction is about to remove
                self.seen.delete(victim_rows, n_evicted, allow_stale_filter)
            if n_evicted:
                fr_t.overwrite_compacted(fr.join(evict, ["session_id", "url"], "left_anti"))
                done = done_t.read(self.spark)
                if done is not None:
                    done_t.overwrite_compacted(
                        done.join(evict, ["session_id", "url"], "left_anti"))
                self._checkpoint(last_rnd)
        finally:
            victim_rows.unpersist()
            evict.unpersist()
        return {"evicted": n_evicted, "round": last_rnd}

    def reinject_for_recrawl(self, urls: DataFrame,
                             allow_stale_filter: bool = False) -> dict:
        """Recrawl due URLs NOW: forget them (evict_for_recrawl) and
        re-inject each as a fresh frontier row at the current round —
        seed-shaped (depth 0, priority 1.0), so the next run() round
        schedules them under the normal politeness budget and their fetch
        appends a SECOND pages row with the new round. This is the acting
        half of the Cho & Garcia-Molina freshness loop: feed it the due
        set q_recrawl_lambda computes. The cuckoo filter's occupancy stays
        exactly the live frontier keys (delete + re-add); on a bloom the
        re-add is an idempotent no-op over the ghost fingerprint."""
        res = self.evict_for_recrawl(urls=urls, allow_stale_filter=allow_stale_filter)
        rnd = res["round"]
        rows = self._seed_rows(urls.select("session_id", "url").distinct(), rnd)
        n = self._append_frontier(rows)
        self._checkpoint(rnd)
        return {**res, "reinjected": int(n)}
