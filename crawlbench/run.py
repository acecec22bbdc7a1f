"""Run one benchmark workload and print its result as the last stdout line.

    python3 crawlbench/run.py --workload polite_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` enables Spark's event log, runs the operator
probes and prints the per-layer metrics instead. Exit status: 0 when every
output check passed, 1 on a correctness mismatch or a failed operation,
2 when the program is not importable from the checkout.

Everything the run writes (fixture, warehouses, Spark scratch, event log,
temp files) lives under ``.crawlbench-work/`` in the checkout and is
removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".crawlbench-work")
CPUS = min(4, os.cpu_count() or 1)
# explicit and well under a 15 GB box: the session factory's default heap
# is 24 GB, pre-touched, which cannot start on such a machine
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``work``, and put the checkout on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the session factory's own JVM flags (G1 over a fixed, pre-touched
    # heap), plus a temp dir inside the checkout for native-library unpacking
    os.environ["DWS_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseG1GC -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")


def start_spark(work: str, trace: bool):
    from distributed_webcrawler_spark import get_spark

    conf = {"spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(cpus=CPUS, app_name="crawlbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM (it exits on stdin EOF)
    and wait for every child process."""
    from pyspark import SparkContext

    from crawlbench.procmon import reap_descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    reap_descendants()


def trace_layers(work: str, windows: list) -> dict[str, float]:
    from crawlbench import eventlog

    evdir = os.path.join(work, "eventlog")
    (name,) = os.listdir(evdir)
    with open(os.path.join(evdir, name)) as f:
        return eventlog.layer_metrics(eventlog.summarize(eventlog.iter_events(f), windows))


def run(args: argparse.Namespace, work: str) -> int:
    session_env(work)
    sys.path.insert(0, ROOT)
    try:
        from crawlbench import workloads
        from crawlbench.procmon import PeakRss
    except ImportError as e:
        print(f"crawlbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with PeakRss() as rss:
        t = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t
        try:
            ctx = workloads.Ctx(spark, work, args.seed, args.seconds, bool(args.trace),
                                session_s)
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
    print(f"crawlbench: peak RSS jvm {rss.jvm_peak_mb:.0f} MB, "
          f"python workers {rss.workers_peak_mb:.0f} MB", file=sys.stderr)
    if args.trace:
        metrics = {**result.layers, **trace_layers(work, result.windows),
                   "mem.python_workers_peak_rss_mb": rss.workers_peak_mb}
        units = workloads.PER_LAYER
    else:
        metrics = {**result.end_to_end, "jvm_peak_rss_mb": rss.jvm_peak_mb}
        units = workloads.END_TO_END
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set drifted: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0 if ctx.failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
