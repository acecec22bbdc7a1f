"""The benchmark's workloads. Each is ONE closed-loop client: a single
driver process runs the next round (or recrawl cycle) only after the
previous one has committed.

- polite_crawl: a budget-bound multi-round crawl — every round schedules
  exactly budget x hosts URLs, so per-round fixed cost (schedule window,
  store commits, branch overlap, driver gaps, checkpoint) dominates.
- drain_recrawl: a frontier-sized drain round (unbounded budget, shuffle
  fetch join, blob-reference pages) on the sharded cuckoo seen-set, then
  a recrawl reinject (shard deletes, compaction rewrites) and checkpoint
  resumes, each cycle on a fresh warehouse. Decode, the fetch join, the
  canonicalize UDF and the seen prefilter do the work; host_stats are
  written every round (circuit breaker + adaptive budgets on).

Inputs come from ``datagen.write_fixture``; ``--seed`` only picks the
seed-URL list (a seeded hash-ordered sample of web_graph URLs). The
engine receives the generated fixture and nothing else.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from distributed_webcrawler_spark import CrawlConfig
from distributed_webcrawler_spark.operators.cuckoo import CuckooFilter
from distributed_webcrawler_spark.plans.engine import CrawlEngine
from distributed_webcrawler_spark.sources import datagen
from distributed_webcrawler_spark.sources.store import SnapshotStore
from tests.oracle.reference_sim import load_fixture_inputs, simulate

from crawlbench import eventlog, probes
from crawlbench.stats import digest_frame, digest_rows, median

SETUP_REPS = 3     # engine set-ups per run; setup_s takes their median
# reinject_for_recrawl calls and restarts per recrawl: every run makes the
# WARMUP ones, untimed, for their checks (they also compile the plans and
# fork the UDF workers later calls reuse); traced runs then time REPS more
# and report their medians as recrawl.* layer metrics
REINJECT_WARMUP, REINJECT_REPS = 1, 4
RESUME_WARMUP, RESUME_REPS = 2, 8
_MB = 1024 * 1024


@dataclass(frozen=True)
class Spec:
    n_urls: int
    n_hosts: int
    n_images: int
    n_seeds: int
    min_px: int
    px_range: int
    config: CrawlConfig
    max_out_degree: int = 12


SPECS = {
    # 2000 seeds give every one of the 40 Zipf hosts >= budget pending URLs,
    # so each round is exactly 400 URLs whatever the seed draw
    "polite_crawl": Spec(
        n_urls=25_000, n_hosts=40, n_images=500, n_seeds=2000, min_px=16, px_range=33,
        config=CrawlConfig(max_depth=3, budget_per_host_per_round=10, max_rounds=10_000,
                           bloom_expected_insertions=200_000)),
    # 160-191 px images: fetch+decode+pages_write is the largest executor
    # phase of the round
    "drain_recrawl": Spec(
        n_urls=30_000, n_hosts=400, n_images=1000, n_seeds=6000, min_px=160, px_range=32,
        config=CrawlConfig(max_depth=3, budget_per_host_per_round=1_000_000_000,
                           max_rounds=10_000, seen_filter="cuckoo", bloom_shards=4,
                           bloom_expected_insertions=80_000, circuit_breaker=True,
                           adaptive_budget=True, fetch_join_strategy="shuffle",
                           store_page_bytes=False)),
}

END_TO_END = {
    "setup_s": "s", "urls_per_s": "1/s", "round_s_p50": "s",
    "store_mb": "MB", "jvm_peak_rss_mb": "MB",
}
_PHASE_UNITS = {"executor_run_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
                "shuffle_read_mb": "MB", "spill_mb": "MB", "records_in": "count"}
PER_LAYER = {
    **{f"engine.{k}": "s" for k in (
        "schedule_s", "pages_write_s", "expand_frontier_s", "seen_update_s",
        "progress_done_s", "branches_s", "checkpoint_s", "driver_gap_s", "resume_s")},
    "engine.jobs_per_round": "count", "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "recrawl.evict_reinject_s": "s", "recrawl.resume_s": "s",
    **{f"spark.{p}.{m}": u for p in eventlog.PHASES.values()
       for m, u in _PHASE_UNITS.items()},
    "topk.rank_rows_per_s": "1/s", "topk.budget_rank_rows_per_s": "1/s",
    "topk.global_row_number_s": "s",
    "seen.bloom_add_per_s": "1/s", "seen.bloom_probe_per_s": "1/s",
    "seen.cuckoo_add_per_s": "1/s", "seen.cuckoo_probe_per_s": "1/s",
    "seen.cuckoo_delete_per_s": "1/s", "seen.bloom_observed_fpp": "ratio",
    "seen.cuckoo_observed_fpp": "ratio", "seen.fpp_base_probes": "count",
    "seen.occupancy": "ratio",
    "urls.canonicalize_compute_rows_per_s": "1/s",
    "urls.canonicalize_udf_rows_per_s": "1/s", "urls.arrow_transfer_share": "ratio",
    "robots.gate_rows_per_s": "1/s",
    "codec.decode_png_imgs_per_s": "1/s", "codec.decode_jpeg_imgs_per_s": "1/s",
    "codec.decode_webp_imgs_per_s": "1/s", "codec.decode_mb_per_s": "MB/s",
    "codec.phash_per_s": "1/s", "codec.errors_codec": "count",
    "codec.errors_jpeg": "count", "codec.errors_webp": "count",
    "codec.errors_escaped": "count",
    "store.append_s": "s", "store.checkpoint_s": "s", "store.rollback_s": "s",
    "store.compact_s": "s", "store.bytes_written_mb": "MB", "store.snapshots": "count",
    "mem.python_workers_peak_rss_mb": "MB",
    "trace.round_s_p50": "s", "trace.urls_per_s": "1/s",
}

# semantic columns only: partition ids, crawl durations and every other
# plan- or clock-dependent field stay out of the digests
PAGES_COLS = ["session_id", "round", "sched_seq", "url", "url_hash", "host", "depth",
              "parent_url", "status_code", "error_message", "image_id", "caption",
              "bytes", "fmt", "content_length", "decoded_w", "decoded_h", "phash"]
FRONTIER_COLS = ["session_id", "url", "url_hash", "host", "host_bucket", "depth",
                 "priority", "parent_url", "discovered_round", "discovered_at"]
DONE_COLS = ["session_id", "url"]
# what the reference simulator knows about pages
PAGES_SIM_COLS = ["round", "sched_seq", "url", "status_code", "image_id", "caption"]


class Ctx:
    """One benchmark run: the session, its scratch directory, the seed and
    window, and the attempted/failed operation counts."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool,
                 session_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.session_s = session_s
        self.attempted = 0
        self.failed = 0
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"crawlbench: [{time.perf_counter() - self._t0:7.2f}s] {msg}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def label(self, what: str) -> None:
        """Tag this thread's next Spark jobs so they never carry the
        engine's last ``dws r<N>`` label; also logs the step."""
        self.log(what)
        self.spark.sparkContext.setJobDescription(f"crawlbench: {what}")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"crawlbench: MISMATCH {what}", file=sys.stderr)


@dataclass
class RoundSample:
    wall: float
    urls: int
    window: tuple[float, float]
    stage_secs: dict
    bytes_written: int


@dataclass
class Result:
    end_to_end: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    windows: list[tuple[float, float]] = field(default_factory=list)


# ----------------------------------------------------------------- inputs
def make_fixture(spark, out: str, spec: Spec, seed: int) -> None:
    """The web from ``datagen.write_fixture`` (seed-independent) and a seed
    list drawn as a seeded hash-ordered sample of its URLs. Generated in
    every run, not cached: its Spark jobs also warm the JVM, so one warm-up
    round is enough before the measured ones."""
    datagen.write_fixture(spark, out, n_urls=spec.n_urls, n_hosts=spec.n_hosts,
                          n_images=spec.n_images, max_out_degree=spec.max_out_degree,
                          min_px=spec.min_px, px_range=spec.px_range)
    urls = pq.read_table(os.path.join(out, "web_graph"), columns=["url"])["url"].to_pylist()
    picked = sorted(urls, key=lambda u: hashlib.blake2b(
        f"{seed}:{u}".encode(), digest_size=8).digest())[:spec.n_seeds]
    shutil.rmtree(os.path.join(out, "seeds"))
    os.makedirs(os.path.join(out, "seeds"))
    pq.write_table(pa.table({"url": pa.array(picked, pa.string()),
                             "seq": pa.array(range(len(picked)), pa.int32())}),
                   os.path.join(out, "seeds", "part-00000.parquet"))


def load_inputs(spark, fix: str) -> tuple:
    return tuple(spark.read.parquet(f"{fix}/{n}")
                 for n in ("web_graph", "payloads", "robots", "seeds"))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


# ----------------------------------------------------------- correctness
def read_tables(ctx: Ctx, store: SnapshotStore) -> dict[str, pd.DataFrame]:
    ctx.label("check")
    out = {}
    for name, cols in (("pages", PAGES_COLS), ("frontier", FRONTIER_COLS),
                       ("done", DONE_COLS)):
        df = store.table(name).read(ctx.spark)
        out[name] = (df.select(*cols).toPandas() if df is not None
                     else pd.DataFrame(columns=cols))
    return out


def state_digest(tables: dict[str, pd.DataFrame]) -> str:
    return digest_rows([
        ("pages", digest_frame(tables["pages"], PAGES_COLS)),
        ("frontier", digest_frame(tables["frontier"], FRONTIER_COLS)),
        ("done", digest_frame(tables["done"], DONE_COLS)),
    ])


def engine_view(tables: dict[str, pd.DataFrame]) -> dict[str, str]:
    """Crawl order with status/image/caption, the seen set and the done
    set — the three parity checks of tests/test_parity.py."""
    return {"pages": digest_frame(tables["pages"], PAGES_SIM_COLS),
            "frontier": digest_rows((u,) for u in set(tables["frontier"]["url"])),
            "done": digest_rows((u,) for u in set(tables["done"]["url"]))}


def sim_view(fix: str, cfg: CrawlConfig, rounds: int) -> dict[str, str]:
    web_graph, robots, captions, seeds = load_fixture_inputs(fix)
    sim = simulate(web_graph, robots, captions, seeds,
                   dataclasses.replace(cfg, max_rounds=rounds))
    pages = [(rnd, seq, url, status, *sim.pages[url][1:])
             for rnd, seq, url, status in sim.crawl_order]
    return {"pages": digest_rows(pages),
            "frontier": digest_rows((u,) for u in sim.seen),
            "done": digest_rows((u,) for _, _, u, _ in sim.crawl_order)}


def check_parity(ctx: Ctx, tables: dict, expected: dict[str, str]) -> None:
    got = engine_view(tables)
    for part in ("pages", "frontier", "done"):
        ctx.check(got[part] == expected[part], f"{part} differ from the reference simulator")


# ------------------------------------------------------------ operations
def timed_round(ctx: Ctx, eng: CrawlEngine, rnd: int) -> RoundSample:
    before = dir_bytes(eng.store.warehouse)
    w0, t = time.time(), time.perf_counter()
    st = eng.run_round(rnd)
    wall, w1 = time.perf_counter() - t, time.time()
    ctx.attempted += 1
    ctx.label("between rounds")
    if st["scheduled"] == 0:
        raise RuntimeError(f"round {rnd} scheduled nothing: the fixture is too small")
    return RoundSample(wall, st["scheduled"], (w0, w1), st["stage_secs"],
                       dir_bytes(eng.store.warehouse) - before)


def reinject(ctx: Ctx, eng: CrawlEngine) -> list[float]:
    """Recrawl a seeded tenth of the fetched URLs now, REINJECT_WARMUP times
    plus REINJECT_REPS when tracing (a repeat evicts and re-adds the same
    keys, so the state converges); returns the walls of the timed
    ``reinject_for_recrawl`` calls and checks the seen-set bookkeeping after
    every call."""
    ctx.label("reinject")
    store = eng.store
    urls = (store.table("pages").read(ctx.spark)
            .where(F.pmod(F.xxhash64(F.lit(ctx.seed), F.col("url")), F.lit(10)) == 0)
            .select("session_id", "url").distinct().cache())
    n = urls.count()
    frontier_before = store.table("frontier").total_rows()
    done_before = store.table("done").total_rows()
    walls = []
    for _ in range(REINJECT_WARMUP + (REINJECT_REPS if ctx.trace else 0)):
        t = time.perf_counter()
        res = eng.reinject_for_recrawl(
            urls, allow_stale_filter=eng.cfg.seen_filter == "bloom")
        walls.append(time.perf_counter() - t)
        ctx.attempted += 1
        frontier_rows = store.table("frontier").total_rows()
        ctx.check(res["evicted"] == res["reinjected"] == n, f"reinject moved {res} of {n} urls")
        ctx.check(frontier_rows == frontier_before, "reinject changed the frontier size")
        ctx.check(store.table("done").total_rows() == done_before - n,
                  "reinject did not forget the done keys")
        if eng.cuckoo_shards is not None:
            ctx.check(eng.cuckoo_shards.occupancy() == frontier_rows,
                      "cuckoo occupancy != frontier rows after reinject")
    urls.unpersist()
    return walls[REINJECT_WARMUP:]


def resume_reps(ctx: Ctx, spec: Spec, store: SnapshotStore,
                inputs: tuple, last_round: int) -> tuple[list[float], list[float]]:
    """Restarts on the same store: a fresh engine, ``resume()`` (capped at
    the checkpointed round, so it restores and runs nothing more), then the
    pending frontier counted — the input of the next schedule. RESUME_WARMUP
    restarts, plus RESUME_REPS timed ones when tracing; returns the timed
    restart-to-ready walls and their ``resume()`` walls alone."""
    cfg = dataclasses.replace(spec.config, max_rounds=last_round)
    pre = state_digest(read_tables(ctx, store))
    frontier_rows = store.table("frontier").total_rows()
    expected_pending = frontier_rows - store.table("done").total_rows()
    ready, resumes = [], []
    ctx.label("resume")
    for _ in range(RESUME_WARMUP + (RESUME_REPS if ctx.trace else 0)):
        t0 = time.perf_counter()
        eng = CrawlEngine(ctx.spark, store, cfg, *inputs[:3])
        t1 = time.perf_counter()
        history = eng.resume()
        t2 = time.perf_counter()
        n_pending = eng.pending().count()
        ready.append(time.perf_counter() - t0)
        resumes.append(t2 - t1)
        ctx.attempted += 1
        ctx.check(history == [], "resume() ran rounds past the checkpoint")
        ctx.check(n_pending == expected_pending,
                  f"{n_pending} pending after resume, expected {expected_pending}")
    ctx.check(state_digest(read_tables(ctx, store)) == pre, "resume() changed the tables")
    if eng.cuckoo_shards is not None:
        ctx.check(eng.cuckoo_shards.occupancy() == frontier_rows,
                  "cuckoo occupancy != frontier rows after resume")
    return ready[RESUME_WARMUP:], resumes[RESUME_WARMUP:]


def setup(ctx: Ctx, spec: Spec) -> tuple[str, tuple, list, float]:
    """Fixture plus SETUP_REPS engine set-ups (start_session on fresh
    warehouses). Returns (fixture dir, inputs, engines, set-up seconds
    without the warm-up)."""
    fix = ctx.path("fixture")
    ctx.label("fixture")
    t = time.perf_counter()
    make_fixture(ctx.spark, fix, spec, ctx.seed)
    fixture_s = time.perf_counter() - t
    inputs = load_inputs(ctx.spark, fix)
    engines, reps = [], []
    ctx.label("engine set-ups")
    for i in range(SETUP_REPS):
        eng = CrawlEngine(ctx.spark, SnapshotStore(ctx.path(f"wh{i}")), spec.config,
                          *inputs[:3])
        t = time.perf_counter()
        eng.start_session(inputs[3])
        reps.append(time.perf_counter() - t)
        engines.append(eng)
    return fix, inputs, engines, ctx.session_s + fixture_s + median(reps)


# ------------------------------------------------------------- workloads
@dataclass
class Samples:
    rounds: list[RoundSample] = field(default_factory=list)
    reinjects: list[float] = field(default_factory=list)
    ready: list[float] = field(default_factory=list)    # restart-to-ready
    resumes: list[float] = field(default_factory=list)  # resume() alone
    store_mb: float = 0.0

    def recrawl(self, ctx: Ctx, spec: Spec, eng: CrawlEngine, inputs: tuple,
                last_round: int) -> None:
        self.reinjects += reinject(ctx, eng)
        ready, resumes = resume_reps(ctx, spec, eng.store, inputs, last_round)
        self.ready += ready
        self.resumes += resumes


def polite_crawl(ctx: Ctx) -> Result:
    spec = SPECS["polite_crawl"]
    fix, inputs, engines, setup_s = setup(ctx, spec)
    eng = engines[0]
    for other in engines[1:]:
        shutil.rmtree(other.store.warehouse)
    ctx.label("warm-up round")
    t = time.perf_counter()
    eng.run_round(1)  # untimed warm-up: the crawl's first round
    setup_s += time.perf_counter() - t
    ctx.attempted += 1

    got, rnd, start = Samples(), 1, time.perf_counter()
    while not got.rounds or time.perf_counter() - start < ctx.seconds:
        rnd += 1
        got.rounds.append(timed_round(ctx, eng, rnd))
        if len(got.rounds) == 1:
            got.store_mb = dir_bytes(eng.store.warehouse) / _MB

    check_parity(ctx, read_tables(ctx, eng.store), sim_view(fix, spec.config, rnd))
    got.recrawl(ctx, spec, eng, inputs, rnd)
    return finish(ctx, spec, eng, fix, setup_s, got)


def drain_recrawl(ctx: Ctx) -> Result:
    spec = SPECS["drain_recrawl"]
    fix, inputs, engines, setup_s = setup(ctx, spec)
    ctx.label("simulate")
    expected = sim_view(fix, spec.config, 1)

    # untimed warm-up: the same round over an eighth of the seeds
    ctx.label("warm-up round")
    t = time.perf_counter()
    warm = CrawlEngine(ctx.spark, SnapshotStore(ctx.path("warm")), spec.config, *inputs[:3])
    warm.start_session(inputs[3].where(F.col("seq") < spec.n_seeds // 8))
    warm.run_round(1)
    setup_s += time.perf_counter() - t
    ctx.attempted += 1
    shutil.rmtree(warm.store.warehouse)

    # cycles reuse the set-up warehouses, then start fresh ones
    spare, got, prev = engines, Samples(), None
    start = time.perf_counter()
    while not got.rounds or time.perf_counter() - start < ctx.seconds:
        if spare:
            eng = spare.pop(0)
        else:
            eng = CrawlEngine(ctx.spark,
                              SnapshotStore(ctx.path(f"wh{SETUP_REPS + len(got.rounds)}")),
                              spec.config, *inputs[:3])
            eng.start_session(inputs[3])
        got.rounds.append(timed_round(ctx, eng, 1))
        check_parity(ctx, read_tables(ctx, eng.store), expected)
        got.recrawl(ctx, spec, eng, inputs, 1)
        if prev is None:
            got.store_mb = dir_bytes(eng.store.warehouse) / _MB
        else:
            shutil.rmtree(prev)
        prev = eng.store.warehouse
    for unused in spare:
        shutil.rmtree(unused.store.warehouse)
    return finish(ctx, spec, eng, fix, setup_s, got)


WORKLOADS = {"polite_crawl": polite_crawl, "drain_recrawl": drain_recrawl}


# ---------------------------------------------------------------- report
def finish(ctx: Ctx, spec: Spec, eng: CrawlEngine, fix: str, setup_s: float,
           got: Samples) -> Result:
    walls = [r.wall for r in got.rounds]
    round_p50, urls_per_s = median(walls), sum(r.urls for r in got.rounds) / sum(walls)

    def ms(xs: list[float]) -> list[float]:
        return [round(x * 1000, 1) for x in xs]

    ctx.log(f"{len(walls)} measured rounds, walls {ms(walls)} ms, "
            f"urls {[r.urls for r in got.rounds]}")
    if ctx.trace:
        ctx.log(f"reinject {ms(got.reinjects)} ms; restart-to-ready {ms(got.ready)} ms; "
                f"resume() {ms(got.resumes)} ms")
    result = Result(end_to_end={
        "setup_s": setup_s, "urls_per_s": urls_per_s, "round_s_p50": round_p50,
        "store_mb": got.store_mb,
    }, windows=[r.window for r in got.rounds])
    if ctx.trace:
        result.layers = layer_probes(ctx, spec, eng, fix, got.rounds)
        result.layers.update({"trace.round_s_p50": round_p50, "trace.urls_per_s": urls_per_s,
                              "recrawl.evict_reinject_s": median(got.reinjects),
                              "recrawl.resume_s": median(got.ready),
                              "engine.resume_s": median(got.resumes)})
    return result


def layer_probes(ctx: Ctx, spec: Spec, eng: CrawlEngine, fix: str,
                 rounds: list[RoundSample]) -> dict[str, float]:
    """Per-layer numbers that need the live session: engine phase walls,
    store figures, and the operator probes on this workload's data."""
    spark, cfg, store = ctx.spark, spec.config, eng.store
    walls = [eventlog.phase_walls(r.stage_secs) for r in rounds]
    m = {f"engine.{k}": median([w[k] for w in walls]) for k in walls[0]}
    m["store.bytes_written_mb"] = median([r.bytes_written for r in rounds]) / _MB
    m["store.snapshots"] = float(sum(
        store.table(name).snapshot_id() for name in sorted(os.listdir(store.warehouse))
        if os.path.exists(os.path.join(store.warehouse, name, "manifest.json"))))

    ctx.label("probe topk")
    m.update(probes.topk_probe(eng.pending(), min(cfg.budget_per_host_per_round, 10)))

    ctx.label("probe seen")
    frontier = store.table("frontier").read(spark)
    hashes = frontier.select("url_hash").toPandas()["url_hash"].to_numpy(dtype="int64")
    seen, false_neg = probes.seen_probe(hashes, cfg.bloom_expected_insertions,
                                        cfg.bloom_fpp, ctx.seed)
    ctx.check(false_neg == 0, f"{false_neg} seen-set false negatives")
    m.update(seen)
    m["seen.occupancy"] = live_filter_load(eng)

    ctx.label("probe urls")
    pages = store.table("pages").read(spark)
    wg, pay, _rob, _seeds = load_inputs(spark, fix)
    pairs = (pages.where(F.col("status_code") == 200).select(F.col("url").alias("parent_url"))
             .join(wg.select(F.col("url").alias("parent_url"), "out_links"), "parent_url")
             .select("parent_url", F.explode("out_links").alias("href"))
             .orderBy("parent_url", "href").limit(50_000).toPandas())
    m.update(probes.urls_probe(spark, pairs))

    ctx.label("probe robots")
    m.update(probes.robots_probe(pages.select("session_id", "url", "host"),
                                 eng.robots_rules))

    ctx.label("probe codec")
    blobs = [bytes(b) for b in pay.orderBy("image_id").limit(300)
             .select("bytes").toPandas()["bytes"]]
    m.update(probes.codec_probe(blobs, ctx.seed))

    ctx.label("probe store")
    m.update(probes.store_probe(spark, frontier, ctx.path("probe-store")))
    return m


def live_filter_load(eng: CrawlEngine) -> float:
    """Fill fraction of the engine's live seen prefilter: set bits for the
    bloom, stored fingerprints over slots for the sharded cuckoo."""
    if eng.bloom is not None:
        return float(np.unpackbits(eng.bloom.bits)[: eng.bloom.n_bits].mean())
    shards = eng.cuckoo_shards
    proto = CuckooFilter.for_capacity(shards.capacity)
    return shards.occupancy() / (shards.n_shards * proto.n_buckets * proto.bucket_size)
