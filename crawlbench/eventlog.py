"""Spark event-log reader keyed by the engine's ``dws r<N>: <phase>`` job
labels, plus the conversion of ``CrawlEngine.run_round``'s stage_secs
into per-phase durations.

Only jobs SUBMITTED inside one of the caller's time windows (epoch
seconds, the driver's wall clock — the same clock Spark stamps events
with) count, so warm-up rounds, correctness checks and probes never leak
into a measured round's numbers.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

from crawlbench.stats import median

# engine job label -> metric slug. "metrics+checkpoint" runs no Spark job
# (driver-side file writes only), so it has no slug here.
PHASES = {
    "schedule": "schedule",
    "fetch+decode+pages_write": "pages",
    "expand+frontier+bloom": "expand",
    "progress+done": "progress",
}
PHASE_METRICS = ("executor_run_s", "cpu_s", "gc_s", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "records_in")
_LABEL = re.compile(r"^dws r(\d+): (.+)$")
_MB = 1024 * 1024


@dataclass
class WindowStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    driver_gap_s: float = 0.0


@dataclass
class LogSummary:
    # slug -> metric -> total over all windows
    phases: dict[str, dict[str, float]] = field(default_factory=dict)
    windows: list[WindowStats] = field(default_factory=list)


def iter_events(lines: Iterable[str]) -> Iterator[dict]:
    """The job/task events this reader needs, parsed lazily (task events
    dominate the log; everything else is skipped before json decoding)."""
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"',
              '"SparkListenerTaskEnd"')
    for line in lines:
        if any(w in line[:64] for w in wanted):
            yield json.loads(line)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def summarize(events: Iterable[dict], windows: list[tuple[float, float]]) -> LogSummary:
    """Aggregate task metrics per engine phase over the jobs submitted in
    ``windows``, and per window count jobs/stages/tasks and the driver gap
    (window wall not covered by any running job)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"sub": ev["Submission Time"] / 1000.0, "end": None,
                         "label": props.get("spark.job.description") or ""}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        else:
            tasks.append(ev)

    def window_of(t: float) -> int | None:
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    job_window = {jid: window_of(j["sub"]) for jid, j in jobs.items()}
    out = LogSummary(windows=[WindowStats() for _ in windows])
    intervals: list[list[tuple[float, float]]] = [[] for _ in windows]
    for jid, j in jobs.items():
        w = job_window[jid]
        if w is None:
            continue
        out.windows[w].jobs += 1
        a, b = windows[w]
        end = j["end"] if j["end"] is not None else b
        intervals[w].append((max(a, j["sub"]), min(b, end)))
    stages_seen: list[set] = [set() for _ in windows]
    for ev in tasks:
        sid = ev["Stage ID"]
        jid = stage_job.get(sid)
        w = job_window.get(jid) if jid is not None else None
        if w is None:
            continue
        out.windows[w].tasks += 1
        stages_seen[w].add(sid)
        m = _LABEL.match(jobs[jid]["label"])
        slug = PHASES.get(m.group(2)) if m else None
        tm = ev.get("Task Metrics")
        if slug is None or not tm:
            continue
        agg = out.phases.setdefault(slug, dict.fromkeys(PHASE_METRICS, 0.0))
        sr = tm.get("Shuffle Read Metrics", {})
        sw = tm.get("Shuffle Write Metrics", {})
        agg["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
        agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
        agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)) / _MB
        agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
        agg["records_in"] += (tm.get("Input Metrics", {}).get("Records Read", 0)
                              + sr.get("Total Records Read", 0))
    for i, (a, b) in enumerate(windows):
        out.windows[i].stages = len(stages_seen[i])
        out.windows[i].driver_gap_s = (b - a) - _union_length(intervals[i])
    return out


def layer_metrics(summary: LogSummary) -> dict[str, float]:
    """``spark.<phase>.*`` per measured round (totals / rounds) and the
    per-round medians of jobs, stages, tasks and driver gap."""
    n = len(summary.windows)
    out = {f"spark.{slug}.{k}": summary.phases.get(slug, {}).get(k, 0.0) / n
           for slug in PHASES.values() for k in PHASE_METRICS}
    ws = summary.windows
    out["engine.driver_gap_s"] = median([w.driver_gap_s for w in ws])
    out["engine.jobs_per_round"] = median([w.jobs for w in ws])
    out["engine.stages_per_round"] = median([w.stages for w in ws])
    out["engine.tasks_per_round"] = median([w.tasks for w in ws])
    return out


def phase_walls(stage_secs: dict[str, float]) -> dict[str, float]:
    """Per-phase durations from ``run_round``'s stage_secs. ``schedule``,
    ``round_branches`` and ``checkpoint`` are deltas; ``pages_write``,
    ``expand_frontier``, ``bloom_update`` and ``progress_done`` are offsets
    from round start (the overlapped branches start when schedule ends,
    so a branch's duration is its offset minus the schedule delta)."""
    s = stage_secs
    sched = s["schedule"]
    return {
        "schedule_s": sched,
        "pages_write_s": s["pages_write"] - sched,
        "expand_frontier_s": s["expand_frontier"] - sched,
        "seen_update_s": s["bloom_update"] - s["expand_frontier"],
        "progress_done_s": s["progress_done"] - sched,
        "branches_s": s["round_branches"],
        "checkpoint_s": s["checkpoint"],
    }
