"""Peak resident memory of this Python process plus its driver JVM,
sampled from /proc by one background thread."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.05


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0            # the process has not started or has ended


class PeakRss:
    """Samples ``RSS(python) + RSS(jvm)`` every ``INTERVAL_S`` seconds.
    Set ``jvm_pid`` once the JVM exists; ``stop()`` returns the peak
    in MB."""

    def __init__(self):
        self.jvm_pid: int | None = None
        self._peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="peak-rss")

    def sample(self) -> None:
        total = _rss_bytes(os.getpid())
        if self.jvm_pid is not None:
            total += _rss_bytes(self.jvm_pid)
        self._peak = max(self._peak, total)

    def _run(self) -> None:
        while not self._done.wait(INTERVAL_S):
            self.sample()

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        return self._peak / 2**20
