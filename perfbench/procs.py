"""Process-tree helpers: peak memory of the Spark JVM and its Python
workers, and shutting the JVM down so the benchmark leaves no process
behind."""

from __future__ import annotations

import os
import signal
import threading
import time

def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    ppid_of = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces: fields follow the last ')'
                ppid_of[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [root], [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in ppid_of.items() if pp == parent]
        out.extend(kids)
        frontier.extend(kids)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: resident pages, each shared page split
    among the processes that map it. Summed RSS would count the pages a
    forked Python worker shares with its daemon once per worker, and so
    swing with how many workers happen to be alive."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakPss:
    """Samples the summed PSS of a process tree from a background thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(descendants(self._root)))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit, SIGKILL what is left; returns the killed."""
    deadline = time.time() + timeout_s
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _alive(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _alive(p) and time.time() < deadline + 10:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
