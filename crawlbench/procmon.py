"""Resident memory of this process's descendants (the Spark JVM and its
Python workers), sampled from /proc on a background thread, and reaping
of those descendants at the end of a run."""

from __future__ import annotations

import os
import signal
import threading
import time

_MB = 1024 * 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the comm field may contain spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _status(pid: int) -> tuple[str, int]:
    """(process name, resident bytes); ("", 0) once the process is gone."""
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1]) * 1024
    except OSError:
        pass
    return name, rss


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every descendant of this process to exit; terminate the
    ones still alive after ``timeout`` seconds and wait for those too."""
    me = os.getpid()
    for sig, wait in ((None, timeout), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in descendants(me):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while descendants(me) and time.monotonic() < deadline:
            time.sleep(0.2)
        if not descendants(me):
            return


class PeakRss:
    """Context manager sampling every ``interval`` seconds: the peak RSS of
    the JVM, and the peak summed RSS of the other descendants (the Python
    workers and their daemon)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.jvm_peak_bytes = 0
        self.workers_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="crawlbench-rss",
                                        daemon=True)

    def sample(self) -> None:
        jvm = workers = 0
        for pid in descendants(os.getpid()):
            name, rss = _status(pid)
            if name == "java":
                jvm += rss
            else:
                workers += rss
        self.jvm_peak_bytes = max(self.jvm_peak_bytes, jvm)
        self.workers_peak_bytes = max(self.workers_peak_bytes, workers)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    @property
    def jvm_peak_mb(self) -> float:
        return self.jvm_peak_bytes / _MB

    @property
    def workers_peak_mb(self) -> float:
        return self.workers_peak_bytes / _MB

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
