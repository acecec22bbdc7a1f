"""Diagnose where a crawl round's wall time goes at one parallelism level.

Runs one warm-up round and one timed drain round over a pre-generated
fixture (the shape of tools/bench_scaling.py's RUNNER) and prints:

  - the engine's per-stage driver wall (run_round's stage_secs),
  - the JVM's utime/stime and the top kernel frames of its runnable
    threads, sampled every 2s during the timed round — this is how the
    local[32] sys-time collapse was localized,
  - the timed round's per-phase Spark metrics and jobs/stages/tasks/driver
    gap, read from the event log by crawlbench.eventlog.

Usage:  taskset -c 0-(N-1) python tools/diag_round.py N /dev/shm/dws-fix12 [scratch]
        (pin exactly like the bench does, or the numbers aren't comparable)
"""

from __future__ import annotations

import collections
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class StackSampler(threading.Thread):
    """Every `period` s: for each thread of `pid` in R/D state, read the top
    interesting frame of /proc/<pid>/task/<tid>/stack, and accumulate the
    process-wide utime/stime delta. Root-only, observational."""

    def __init__(self, pid: int, period: float = 2.0):
        super().__init__(daemon=True)
        self.pid = pid
        self.period = period
        self.frames: collections.Counter = collections.Counter()
        self.samples = 0
        self.stop_flag = False
        self.cpu = {"utime": 0, "stime": 0}
        self._t0 = self._read_cpu()
        # python UDF worker CPU: pyspark.daemon + its forked workers are the
        # OTHER pool of cores the round consumes. Track per-pid (first, last)
        # utime+stime and sum deltas — the daemon's cutime would attribute a
        # dead worker's WHOLE lifetime (incl. pre-round warm-up) to the
        # round; per-pid deltas only lose a worker's final <2s.
        self._py_seen: dict = {}
        self._py_sample()

    @property
    def py_cpu_ticks(self) -> int:
        return sum(last - first for first, last in self._py_seen.values())

    def _py_sample(self) -> None:
        try:
            pids = subprocess.run(["pgrep", "-f", "pyspark.daemon"],
                                  capture_output=True, text=True).stdout.split()
            for pid in pids:
                kids = subprocess.run(["pgrep", "-P", pid], capture_output=True,
                                      text=True).stdout.split()
                for p in [pid, *kids]:
                    try:
                        with open(f"/proc/{p}/stat") as f:
                            st = f.read().split()
                        ticks = int(st[13]) + int(st[14])
                    except (OSError, ValueError):
                        continue
                    first, _ = self._py_seen.get(p, (ticks, ticks))
                    self._py_seen[p] = (first, ticks)
        except Exception:
            pass

    def _read_cpu(self):
        try:
            with open(f"/proc/{self.pid}/stat") as f:
                parts = f.read().split()
            return int(parts[13]), int(parts[14])
        except OSError:
            return None

    def run(self):
        task_dir = f"/proc/{self.pid}/task"
        while not self.stop_flag:
            try:
                tids = os.listdir(task_dir)
            except OSError:
                break
            for tid in tids:
                try:
                    with open(f"{task_dir}/{tid}/stat") as f:
                        st = f.read().split()
                    if st[2] not in "RD":
                        continue
                    with open(f"{task_dir}/{tid}/stack") as f:
                        stack = f.read()
                except OSError:
                    continue
                frame = "userspace"
                for ln in stack.splitlines():
                    fn = ln.split("] ")[-1].split("+")[0]
                    if fn and fn not in ("entry_SYSCALL_64_after_hwframe",
                                         "do_syscall_64", "__x64_sys_futex",
                                         "do_futex", "ret_from_fork"):
                        frame = fn
                        break
                self.frames[frame] += 1
            self.samples += 1
            self._py_sample()
            time.sleep(self.period)
        t1 = self._read_cpu()
        if self._t0 and t1:
            self.cpu = {"utime": t1[0] - self._t0[0], "stime": t1[1] - self._t0[1]}


def main() -> None:
    cpus = int(sys.argv[1])
    fix = sys.argv[2]
    scratch = sys.argv[3] if len(sys.argv) > 3 else "/dev/shm"

    from crawlbench import eventlog
    from distributed_webcrawler_spark import CrawlConfig, get_spark
    from distributed_webcrawler_spark.plans.engine import CrawlEngine
    from distributed_webcrawler_spark.sources.store import SnapshotStore

    # same sizing AND the same 64g cap as bench_scaling's RUNNER: 12+3*32
    # uncapped is a 108g pre-touched heap — instant OOM on the 125g box
    mem_gb = int(os.environ.get("DWS_DIAG_MEM_GB", min(12 + 3 * cpus, 64)))
    evdir = tempfile.mkdtemp(dir=scratch, prefix="dws-eventlog-")
    extra = {"spark.local.dir": tempfile.mkdtemp(dir=scratch, prefix="sparklocal-"),
             "spark.driver.memory": f"{mem_gb}g",
             "spark.eventLog.enabled": "true",
             "spark.eventLog.compress": "false",  # no zstd lib in sandbox
             "spark.eventLog.rolling.enabled": "false",
             "spark.eventLog.dir": f"file://{evdir}",
             **json.loads(os.environ.get("DWS_EXTRA_CONF", "{}"))}
    spark = get_spark(cpus=cpus, app_name=f"dws-diag-{cpus}", shuffle_partitions=64,
                      extra_conf=extra)
    proc = getattr(spark.sparkContext._gateway, "proc", None)

    wg, pay, rob, seeds = (spark.read.parquet(f"{fix}/{n}")
                           for n in ("web_graph", "payloads", "robots", "seeds"))
    cfg = CrawlConfig(max_depth=1, budget_per_host_per_round=1_000_000,
                      max_rounds=1, use_bloom=True,
                      bloom_expected_insertions=5_000_000, respect_robots=True,
                      fetch_join_strategy="shuffle", store_page_bytes=False)
    wh_warm = tempfile.mkdtemp(dir=scratch, prefix=f"dws-diagwarm-{cpus}-")
    warm = CrawlEngine(spark, SnapshotStore(wh_warm),
                       dataclasses.replace(cfg, budget_per_host_per_round=10), wg, pay, rob)
    warm.start_session(seeds.limit(4000))
    warm.run()
    shutil.rmtree(wh_warm, ignore_errors=True)
    # pre-spawn all N python UDF workers (see bench_scaling.py RUNNER)
    (spark.range(cpus * 2000).repartition(cpus)
          .mapInPandas(lambda it: it, "id long")
          .write.format("noop").mode("overwrite").save())

    wh = tempfile.mkdtemp(dir=scratch, prefix=f"dws-diag-{cpus}-")
    eng = CrawlEngine(spark, SnapshotStore(wh), cfg, wg, pay, rob)
    eng.start_session(seeds)

    sampler = StackSampler(proc.pid) if proc is not None else None
    if sampler:
        sampler.start()
    t_round_start = time.time()
    hist = eng.run()
    t_round_end = time.time()
    if sampler:
        sampler.stop_flag = True
        sampler.join(timeout=5)
    spark.stop()  # closes the event log

    wall = t_round_end - t_round_start
    print(f"\n=== local[{cpus}] timed round: {wall:.1f}s, "
          f"{sum(h['scheduled'] for h in hist)} urls ===")
    for h in hist:
        print("stage_secs:", json.dumps(h.get("stage_secs", {})))
    if sampler:
        hz = os.sysconf("SC_CLK_TCK")
        print(f"jvm cpu during round: user {sampler.cpu['utime']/hz:.0f}s "
              f"sys {sampler.cpu['stime']/hz:.0f}s "
              f"(sys share {sampler.cpu['stime']/max(1, sampler.cpu['utime']+sampler.cpu['stime']):.0%})")
        py_s = sampler.py_cpu_ticks / hz
        jvm_s = (sampler.cpu['utime'] + sampler.cpu['stime']) / hz
        avail = cpus * wall
        print(f"python worker cpu during round: {py_s:.0f}s; "
              f"core-budget use (jvm+py)/(cores*wall): "
              f"{(jvm_s + py_s) / max(1.0, avail):.0%} of {avail:.0f} core-s "
              f"(idle = pipeline gaps / slot starvation)")
        print(f"top kernel frames over {sampler.samples} samples "
              f"(runnable threads only):")
        for frame, n in sampler.frames.most_common(15):
            print(f"  {n:6d}  {frame}")
    (log_name,) = os.listdir(evdir)
    with open(os.path.join(evdir, log_name)) as f:
        summary = eventlog.summarize(eventlog.iter_events(f), [(t_round_start, t_round_end)])
    print("event log, timed round:")
    print(json.dumps(eventlog.layer_metrics(summary), indent=1, sort_keys=True))
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
